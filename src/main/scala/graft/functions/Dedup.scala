package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-bounded by a *bucket key* (hash,
  * band signature, or shared n-gram), never by an all-pairs product. At 100 TB
  * the only quadratic step — within-bucket pair comparison — is bounded by
  * bucket size, which the band/bucket parameters control.
  */
object Dedup {

  /** Exact dedup: groupBy content hash, keep the smallest id per group.
    * One hash-shuffle; map-side partial aggregation applies. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.withColumn("__key", TextFunctions.contentKey(col(textCol)))
      .groupBy(col("__key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("__key")
  }

  /** Paragraph-granularity dedup (the CCNet / RefinedWeb line-dedup stage,
    * Wenzek et al. 2020 §3.1): instead of dropping whole documents, remove
    * DUPLICATED PARAGRAPHS from every document and rebuild the text —
    * boilerplate (nav bars, cookie banners, license headers) repeats across
    * pages whose bodies are unique, so document-level dedup never catches
    * it. A paragraph occurring in ≥ `minDupCount` places corpus-wide is
    * dropped everywhere except (with `keepFirst`, the CCNet default) its
    * globally first occurrence — smallest (`idCol`, position); with
    * `keepFirst = false` every copy is dropped (aggressive boilerplate
    * kill). Whitespace-only paragraphs are formatting, not content: always
    * kept, never counted.
    *
    * Returns (`idCol`, `textCol` rebuilt, `n_paras`, `n_kept`) — one row
    * per input document, empty text when everything was dropped.
    *
    * Scale shape: the dup-stat aggregate groups by an 8-byte xxhash64 of
    * the paragraph — count/min are map-side-combinable, so a boilerplate
    * paragraph with 10⁹ copies costs one combined row per task, not a 10⁹-
    * row hot partition (a window over the hash would buffer exactly that).
    * Only hashes at ≥ `minDupCount` survive into the verdict table, which
    * is ∝ DISTINCT duplicated paragraphs — the small side AQE broadcasts
    * for the verdict join in the common case. Paragraph TEXT rides one
    * intrinsic shuffle at most (the id-keyed rebuild; the verdict join
    * moves nothing when broadcast). */
  def paragraphDedup(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", sep: String = "\n",
                     minDupCount: Int = 2,
                     keepFirst: Boolean = true): DataFrame = {
    require(minDupCount >= 2, "minDupCount must be >= 2")
    // coalesce: split(NULL) explodes to zero rows, which would DROP the
    // document from the one-row-per-doc output; a null-text doc instead
    // becomes one blank (always-kept) paragraph and survives as "".
    // persist: paras feeds both the stats aggregate and the probe side of
    // the verdict join — unpersisted, the full text scan + explode + hash
    // runs twice (the [[minhashLsh]] persist rationale; released via
    // [[Barrier.releaseOnDrop]] once the caller drops the result)
    val paras = docs.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__para")))
      .withColumn("__blank", trim(col("__para")) === "")
      .withColumn("__h", xxhash64(col("__para")))
      .persist()
    // dup stats per paragraph hash, kept only where a verdict is needed
    val stats = paras.filter(!col("__blank"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("__pos"))).as("__first"))
      .filter(col("__n") >= minDupCount)
    val judged = paras.join(stats, Seq("__h"), "left")
      .withColumn("__keep",
        col("__blank") || col("__n").isNull ||
          (lit(keepFirst) && col("__first") === struct(col(idCol), col("__pos"))))
    // rebuild: second shuffle keyed by doc id; sort_array restores order
    Barrier.releaseOnDrop(judged.groupBy(col(idCol))
      .agg(
        concat_ws(sep,
          transform(
            sort_array(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__para"))))),
            s => s("__para"))).as(textCol),
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept")), paras)
  }

  /** Incremental (cross-batch) exact dedup — the ingest shape: an incoming
    * batch is kept only where its content key appears in neither the
    * existing corpus NOR earlier in the batch itself (within-batch ties keep
    * the smallest id). One implementation of the screen semantics: this is
    * [[incrementalExactKeys]] over the corpus's inline [[contentKeys]] —
    * at 100 TB the corpus reduces to its key set and is then only SCANNED
    * (broadcast batch probe); steady-state loops store the key table and
    * call [[incrementalExactKeys]] directly, paying zero corpus passes. */
  def incrementalExact(corpus: DataFrame, incoming: DataFrame,
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    incrementalExactKeys(contentKeys(corpus, textCol), incoming, textCol, idCol)

  /** The persisted-corpus side of steady-state EXACT dedup — the key-table
    * form of [[incrementalExact]]'s internal `seen` set: one row per
    * DISTINCT content key (`content_key`, 32-hex md5 of the
    * whitespace-normalized text), computed once and stored, then
    * maintained per batch by unioning the accepted batch's own
    * `contentKeys` and distinct-ing (or an insert-if-absent MERGE on the
    * stored table). 16 bytes per distinct document; corpus TEXT is never
    * touched again — successive ingests screen via
    * [[incrementalExactKeys]]. */
  def contentKeys(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(TextFunctions.contentKey(col(textCol)).as("content_key")).distinct()

  /** [[incrementalExact]] against a PRE-COMPUTED key table
    * ([[contentKeys]]) — the steady-state loop shape: the batch is kept
    * where its key appears in neither the stored set nor earlier in the
    * batch (within-batch ties keep the smallest id). With `broadcastBatch`
    * (default) the stored key table is SCANNED once, each task hash-probing
    * the broadcast batch-key set in place — only the batch's own matched
    * keys (∝ batch) leave the scan, then broadcast back as the build side
    * of the anti-join; nothing corpus-sized ever shuffles (the
    * [[incrementalParagraphDedup]] two-step, since a broadcast hint on the
    * preserved side of the anti-join would be dropped). For
    * batch-vs-batch scale set it false → plain shuffle anti-join. */
  def incrementalExactKeys(corpusKeys: DataFrame, incoming: DataFrame,
                           textCol: String = "text", idCol: String = "doc_id",
                           broadcastBatch: Boolean = true): DataFrame = {
    val batch = incoming.withColumn("__key", TextFunctions.contentKey(col(textCol)))
      .groupBy(col("__key")).agg(min(col(idCol)).as(idCol))
    screenAnti(corpusKeys.select(col("content_key").as("__key")),
      batch, "__key", broadcastBatch).drop("__key")
  }

  /** THE steady-state screen shape, shared by [[incrementalExactKeys]]
    * and [[Web.urlFrontier]] so join-shape fixes land once: with
    * `broadcastBatch`, the stored state table is SCANNED once, each task
    * hash-probing the broadcast batch-key set in place — only the batch's
    * own matched keys (∝ batch) leave the scan, then broadcast back as
    * the BUILD side of the anti-join (a broadcast hint on the preserved
    * side of the anti-join would be silently dropped, hence the two-step);
    * nothing state-table-sized ever shuffles. With it false: plain
    * shuffle anti-join on the key. `state` must already expose `keyCol`. */
  private[functions] def screenAnti(state: DataFrame, batch: DataFrame,
                                    keyCol: String,
                                    broadcastBatch: Boolean): DataFrame = {
    val keys = state.select(col(keyCol))
    val seen =
      if (broadcastBatch)
        broadcast(keys.join(broadcast(batch.select(col(keyCol))), Seq(keyCol)))
      else keys
    batch.join(seen, Seq(keyCol), "left_anti")
  }

  /** The persisted-corpus side of steady-state PARAGRAPH dedup (the
    * [[paragraphDedup]] analog of [[incrementalExact]]'s key set): one row
    * per distinct non-blank paragraph — (`para_h` xxhash64, `n` count) —
    * computed once and stored, then maintained per batch by unioning the
    * accepted batch's own counts and re-summing
    * (`(corpus union delta).groupBy(para_h).sum(n)` — or an additive MERGE
    * on the stored table). 16 bytes per distinct paragraph; corpus TEXT is
    * never touched again. */
  def paragraphHashCounts(docs: DataFrame, textCol: String = "text",
                          sep: String = "\n"): DataFrame =
    docs.select(
        explode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep)))
          .as("__para"))
      .filter(trim(col("__para")) =!= "")
      .select(xxhash64(col("__para")).as("para_h"))
      .groupBy(col("para_h")).agg(count(lit(1)).as("n"))

  /** Incremental (cross-batch) paragraph dedup — [[paragraphDedup]]'s
    * ingest shape: an incoming batch is cleaned against a PRE-COMPUTED
    * corpus paragraph-count table ([[paragraphHashCounts]]) without
    * touching corpus text, with semantics identical to running
    * [[paragraphDedup]] over corpus∪batch where every corpus occurrence
    * precedes the batch: a batch paragraph occurrence is kept iff it is
    * blank, its corpus+batch total stays under `minDupCount`, or (with
    * `keepFirst`) it is the GLOBAL first occurrence — which it can only be
    * when the paragraph is absent from the corpus. Returns the same
    * (`idCol`, `textCol`, `n_paras`, `n_kept`) shape as [[paragraphDedup]].
    *
    * Scale shape: only the BATCH is exploded and hashed (∝ batch, not
    * corpus). With `broadcastBatch` (default — ingest batches are small
    * next to a 100 TB corpus) the stored count table is SCANNED once, each
    * task hash-probing the broadcast batch-hash set in place; only the
    * batch's own hashes (∝ batch) leave the scan, and nothing shuffles.
    * For batch-vs-batch scale set it false → plain shuffle join on the
    * 8-byte hash. */
  def incrementalParagraphDedup(corpusCounts: DataFrame, incoming: DataFrame,
                                textCol: String = "text",
                                idCol: String = "doc_id", sep: String = "\n",
                                minDupCount: Int = 2, keepFirst: Boolean = true,
                                broadcastBatch: Boolean = true): DataFrame = {
    require(minDupCount >= 2, "minDupCount must be >= 2")
    // coalesce + persist: same rationale as [[paragraphDedup]] (null-text
    // docs must survive; paras feeds stats AND the verdict probe)
    val paras = incoming.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__para")))
      .withColumn("__blank", trim(col("__para")) === "")
      .withColumn("__h", xxhash64(col("__para")))
      .persist()
    val batchStats = paras.filter(!col("__blank"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__bn"),
        min(struct(col(idCol), col("__pos"))).as("__first"))
    val corpus = corpusCounts.select(col("para_h").as("__h"), col("n").as("__cn"))
    // a broadcast hint on the PRESERVED side of a left-outer join is
    // dropped by Spark (no valid build side), so the scan-and-probe shape
    // needs two steps: (1) INNER join the corpus scan against the
    // broadcast batch-hash set — batch is the build side, output ∝ batch,
    // corpus never shuffles; (2) left-join the (batch-sized) matched
    // counts back, broadcast as the BUILD side of the outer join.
    val matchedCounts =
      if (broadcastBatch)
        broadcast(corpus.join(broadcast(batchStats.select(col("__h"))), Seq("__h")))
      else corpus
    val verdicts = batchStats.join(matchedCounts, Seq("__h"), "left")
      .select(col("__h"),
        (coalesce(col("__cn"), lit(0L)) + col("__bn")).as("__n"),
        when(coalesce(col("__cn"), lit(0L)) === 0 && lit(keepFirst),
          col("__first")).as("__keepFirst"))
    val judged = paras.join(verdicts, Seq("__h"), "left")
      .withColumn("__keep",
        col("__blank") || col("__n") < minDupCount ||
          col("__keepFirst") === struct(col(idCol), col("__pos")))
    Barrier.releaseOnDrop(judged.groupBy(col(idCol))
      .agg(
        concat_ws(sep,
          transform(
            sort_array(collect_list(when(col("__keep"),
              struct(col("__pos"), col("__para"))))),
            s => s("__para"))).as(textCol),
        count(lit(1)).as("n_paras"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept")), paras)
  }

  /** [[incrementalExact]] with a Bloom pre-screen — the shape that holds at
    * 100 TB: the plain anti-join SHUFFLES the corpus's keys for every
    * incoming batch, while here the corpus is only ever SCANNED:
    *
    *  1. one pass builds a Bloom filter of corpus keys (treeAggregate of
    *     bit arrays; duplicate keys just re-set bits, so no distinct — and
    *     no shuffle — is needed);
    *  2. batch rows whose key misses the filter are DEFINITELY new (Bloom
    *     has no false negatives) — they skip the join entirely;
    *  3. the few maybe-duplicates broadcast as a semi-filter over a corpus
    *     scan; the confirmed keys (≤ maybe size) broadcast back for the
    *     exact anti-join.
    *
    * The result is EXACT — identical to [[incrementalExact]] for any fpp;
    * fpp only tunes how many rows take the confirm path. Filter size is
    * ~1.2 GB per 10⁹ keys at 1% fpp (driver + broadcast budget); past
    * [[AutoShardKeys]] the cached variant switches to a SHARDED layout that
    * never holds a filter on the driver at all. This variant builds the
    * filter inline (self-contained, 2 corpus passes); steady-state ingest
    * should use [[incrementalExactBloomCached]], which persists the filter
    * keyed by the corpus version and pays ZERO corpus passes on a hit. */
  def incrementalExactBloom(corpus: DataFrame, incoming: DataFrame,
                            textCol: String = "text", idCol: String = "doc_id",
                            fpp: Double = 0.01): DataFrame = {
    // row count over-estimates distinct keys — just a few more bits. An
    // EMPTY corpus can't build a filter (and needs none): every batch key
    // is new.
    val n = corpus.count()
    val bf =
      if (n == 0) None
      else Some(corpus.select(TextFunctions.contentKey(col(textCol)).as("__key"))
        .stat.bloomFilter("__key", n, fpp))
    bloomScreened(corpus, incoming, bf, textCol, idCol)
  }

  /** The Bloom screen/confirm core shared by the inline and cached variants:
    * filter misses are definitely new (no join at all); hits confirm via a
    * broadcast semi over ONE corpus scan, then a broadcast anti back. With
    * `bf == None` (empty corpus) every batch key is new — no corpus job.
    *
    * The confirm branch is gated by a RUNTIME count of filter hits (a
    * batch-sized job — the declarative join alone would still scan the
    * corpus even when `maybe` turns out empty, because the plan can't know
    * that): an all-new batch therefore touches the corpus ZERO times. */
  private def bloomScreened(corpus: DataFrame, incoming: DataFrame,
                            bf: Option[org.apache.spark.util.sketch.BloomFilter],
                            textCol: String, idCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val keyed = incoming.withColumn("__key", TextFunctions.contentKey(col(textCol)))
      .groupBy(col("__key")).agg(min(col(idCol)).as(idCol))
    bf match {
      case None => keyed.drop("__key")
      case Some(filter) =>
        val bfB = spark.sparkContext.broadcast(filter)
        val mc = udf((k: String) => k != null && bfB.value.mightContainString(k))
        val definitelyNew = keyed.filter(!mc(col("__key")))
        val maybe = keyed.filter(mc(col("__key")))
        if (maybe.isEmpty) definitelyNew.drop("__key")
        else {
          val corpusKeys = corpus.select(TextFunctions.contentKey(col(textCol)).as("__key"))
          val confirmed = corpusKeys
            .join(broadcast(maybe.select("__key")), Seq("__key"), "left_semi")
            .distinct()
          val stillNew = maybe.join(broadcast(confirmed), Seq("__key"), "left_anti")
          definitelyNew.unionByName(stillNew).drop("__key")
        }
    }
  }

  /** [[incrementalExactBloom]] with the filter PERSISTED across ingest
    * batches — the steady-state 100 TB ingest shape (r9 verdict #3):
    *
    *  - the filter bytes live at `cacheDir/<md5(versionToken)>.bloom`
    *    (Hadoop FS API — works on HDFS/object stores); `versionToken`
    *    should change exactly when the corpus changes (e.g. the
    *    TableFormat's `versions(t).last` — see the two-batch spec);
    *  - cache HIT: zero corpus passes to screen — batch keys that miss the
    *    filter skip every join; only filter HITS (true dups + fpp noise)
    *    pay the one confirm scan, and an all-new batch pays none;
    *  - cache MISS: ONE corpus pass (the treeAggregate filter build);
    *    the usual second pass — `corpus.count()` for sizing — is dropped
    *    when `expectedKeys` is supplied (from table metadata: parquet
    *    footers via [[parquetRowCount]], the manifest, or the state store);
    *  - an EMPTY corpus persists a `.empty` marker, so later batches skip
    *    even the existence check's rebuild.
    *
    * Result is EXACT — identical to [[incrementalExact]] — for any fpp and
    * any stale-token mishap short of reusing a token across different corpus
    * contents (the caller's contract: token ⇔ corpus version).
    *
    * Corpora past [[AutoShardKeys]] keys (or a forced `shards`) publish a
    * SHARDED layout instead — S per-key-hash-range filters built in one
    * corpus pass and streamed per batch partition at screen time, so no
    * single filter ever has to fit the driver or a broadcast (the 10⁹-key
    * ceiling of the single-filter layout). The cache records the layout
    * (`.shardmeta`, written last), so later batches under the same token
    * follow it regardless of their own `shards` argument. */
  def incrementalExactBloomCached(corpus: DataFrame, incoming: DataFrame,
                                  cacheDir: String, versionToken: String,
                                  textCol: String = "text", idCol: String = "doc_id",
                                  fpp: Double = 0.01,
                                  expectedKeys: Option[Long] = None,
                                  shards: Option[Int] = None): DataFrame = {
    val spark = corpus.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(versionToken.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = dir.getFileSystem(conf)
    val bloomPath = new org.apache.hadoop.fs.Path(dir, s"$hash.bloom")
    val emptyPath = new org.apache.hadoop.fs.Path(dir, s"$hash.empty")
    val metaPath = new org.apache.hadoop.fs.Path(dir, s"$hash.shardmeta")
    // cache HIT follows whatever layout was published for this token —
    // the shard meta file is written LAST, so its presence means the full
    // shard set is in place
    if (fs.exists(emptyPath))
      return bloomScreened(corpus, incoming, None, textCol, idCol)
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      val s = try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt
      } finally in.close()
      return shardScreened(corpus, incoming, cacheDir, hash, s, textCol, idCol)
    }
    if (fs.exists(bloomPath)) {
      val in = fs.open(bloomPath)
      val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
      return bloomScreened(corpus, incoming, Some(bf), textCol, idCol)
    }
    // cache MISS: size from metadata when offered, then pick the layout
    val metaN = expectedKeys.getOrElse(corpus.count())
    // a zero from METADATA is verified against the corpus before the
    // durable .empty marker is written — a wrong Some(0) (bad dir,
    // non-.parquet layout) would otherwise silently disable dedup for
    // every later batch under this token; the recount costs one scan
    // only in that mismatch case
    val n = if (metaN == 0 && expectedKeys.isDefined) corpus.count() else metaN
    fs.mkdirs(dir)
    if (n == 0) {
      val tmp = new org.apache.hadoop.fs.Path(dir, s"$hash.tmp${System.nanoTime()}")
      fs.create(tmp, true).close()
      if (!fs.rename(tmp, emptyPath)) fs.delete(tmp, false)
      bloomScreened(corpus, incoming, None, textCol, idCol)
    } else if (shards.exists(_ > 1) || n > AutoShardKeys) {
      val s = shards.getOrElse(
        math.min(4096L, (n + TargetKeysPerShard - 1) / TargetKeysPerShard).toInt)
      buildShardFilters(corpus, cacheDir, hash, s, n, fpp, textCol)
      // meta last: readers treat the shard set as published only once it lands
      val tmp = new org.apache.hadoop.fs.Path(dir, s"$hash.tmp${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(s.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, metaPath)) fs.delete(tmp, false)
      shardScreened(corpus, incoming, cacheDir, hash, s, textCol, idCol)
    } else {
      val built = corpus.select(TextFunctions.contentKey(col(textCol)).as("__key"))
        .stat.bloomFilter("__key", math.max(n, 1L), fpp)
      // atomic publish: write to a tmp name, rename into place — a
      // concurrent builder of the same version just wins the rename race
      // with identical bytes
      val tmp = new org.apache.hadoop.fs.Path(dir, s"$hash.tmp${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try built.writeTo(out) finally out.close()
      if (!fs.rename(tmp, bloomPath)) fs.delete(tmp, false)
      bloomScreened(corpus, incoming, Some(built), textCol, idCol)
    }
  }

  /** Auto-shard threshold for [[incrementalExactBloomCached]]: above this
    * many corpus keys a single filter (~1.2 GB per 10⁹ keys at 1% fpp)
    * strains the driver/broadcast budget, so the build switches to the
    * sharded layout. 4×10⁸ keys ≈ 480 MB of filter — comfortably under a
    * typical 2–4 GB driver heap while keeping small corpora on the
    * single-broadcast fast path. */
  val AutoShardKeys: Long = 400000000L

  /** Sharded sizing target: each shard filter covers ≤ this many keys
    * (~240 MB at 1% fpp) — the per-TASK memory bound of the build and the
    * per-partition load bound of the screen. A 10¹⁰-key corpus shards into
    * S=50 filters; S also sets the build's parallelism. */
  val TargetKeysPerShard: Long = 200000000L

  /** [[incrementalExactBloomCached]] with the key space partitioned into S
    * Bloom filters — the layout for corpora past the single-filter driver
    * budget (10⁹+ keys). One corpus pass builds ALL shard filters: keys
    * route to shards by hash, a repartition co-locates each shard in one
    * task, and each task writes its shard's filter bytes straight to the
    * version-keyed cache dir (tmp+rename) — no filter ever transits the
    * driver or a broadcast. Screening routes batch rows the same way and
    * each partition streams its shard's filter from the cache dir once.
    * Exactness is identical to [[incrementalExact]] (per-key routing is
    * deterministic, Bloom has no false negatives, hits confirm against the
    * corpus). `shards` forces S; production callers should use
    * [[incrementalExactBloomCached]] and let [[AutoShardKeys]] decide.
    *
    * Sizing rule: a 1%-fpp Bloom filter costs ~9.6 bits ≈ 1.2 bytes per
    * key, so pick S with `corpusKeys / S <= taskBudgetBytes / 1.2` — each
    * build task allocates exactly one perShard-capacity filter (identity
    * routing: partition index == shard id; ScaleProbe pins the per-task
    * bound by file size). E.g. a 10¹⁰-key corpus under a 240 MB per-task
    * filter budget needs S ≥ 50 — the [[TargetKeysPerShard]] auto path. */
  def incrementalExactBloomSharded(corpus: DataFrame, incoming: DataFrame,
                                   cacheDir: String, versionToken: String,
                                   shards: Int,
                                   textCol: String = "text", idCol: String = "doc_id",
                                   fpp: Double = 0.01,
                                   expectedKeys: Option[Long] = None): DataFrame =
    incrementalExactBloomCached(corpus, incoming, cacheDir, versionToken,
      textCol, idCol, fpp, expectedKeys, shards = Some(shards))

  private def shardOf(key: org.apache.spark.sql.Column, s: Int) =
    pmod(xxhash64(coalesce(key, lit(""))), lit(s.toLong)).cast("int")

  private def shardFile(hash: String, s: Int, shard: Int) =
    s"$hash.s$s-$shard.bloom"

  /** Routes shard ids to partitions by IDENTITY (partition index == shard
    * id), unlike `repartition(s, col)`, which murmur3-hashes the id mod s
    * and routinely folds several shards into one task — with each folded
    * filter allocated at full perShard capacity, that silently multiplies
    * the documented per-TASK memory bound the sharded layout exists for. */
  private final class IdentityShardPartitioner(s: Int)
      extends org.apache.spark.Partitioner {
    def numPartitions: Int = s
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** One-pass sharded filter build: repartition corpus KEYS (never
    * documents) by shard so each shard lands whole in one task, build that
    * shard's filter locally, write it executor-side to the cache dir. A
    * shard with no corpus keys gets no file — the screen treats a missing
    * file as the empty filter (nothing to collide with). */
  private def buildShardFilters(corpus: DataFrame, cacheDir: String,
                                hash: String, s: Int, n: Long, fpp: Double,
                                textCol: String): Unit = {
    val spark = corpus.sparkSession
    val perShard = math.max(n / s + 1, 64L)
    val sConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val routed = corpus
      .select(TextFunctions.contentKey(col(textCol)).as("__key"))
      .withColumn("__shard", shardOf(col("__key"), s))
    val keyIdx = routed.schema.fieldIndex("__key")
    val shardIdx = routed.schema.fieldIndex("__shard")
    // identity-partition the shard id: partition index == shard id, so a
    // task holds exactly ONE perShard-capacity filter — the per-task bound
    routed.rdd
      .map(r => (r.getInt(shardIdx),
        if (r.isNullAt(keyIdx)) null else r.getString(keyIdx)))
      .partitionBy(new IdentityShardPartitioner(s))
      .mapPartitionsWithIndex { (shard, it) =>
        var f: org.apache.spark.util.sketch.BloomFilter = null
        it.foreach { case (_, k) =>
          if (f == null)
            f = org.apache.spark.util.sketch.BloomFilter.create(perShard, fpp)
          if (k != null) f.putString(k)
        }
        if (f == null) Iterator.empty // empty shard → no file (empty filter)
        else {
          val dir = new org.apache.hadoop.fs.Path(cacheDir)
          val fs = dir.getFileSystem(sConf.value)
          fs.mkdirs(dir)
          val tmp = new org.apache.hadoop.fs.Path(dir,
            s"$hash.tmp$shard-${System.nanoTime()}")
          val out = fs.create(tmp, true)
          try f.writeTo(out) finally out.close()
          val dst = new org.apache.hadoop.fs.Path(dir, shardFile(hash, s, shard))
          if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
          Iterator.single(shard)
        }
      }.count()
    ()
  }

  /** The sharded screen: batch keys route by the SAME shard hash as the
    * build, each partition streams its shard's filter from the cache dir
    * once (no broadcast, no driver copy), misses skip every join, hits
    * confirm via one broadcast-semi corpus scan exactly like the unsharded
    * path. The screened frame is persisted — it is batch-sized and read by
    * both the miss and hit branches. */
  private def shardScreened(corpus: DataFrame, incoming: DataFrame,
                            cacheDir: String, hash: String, s: Int,
                            textCol: String, idCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val sConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    import org.apache.spark.sql.types.{BooleanType, StructField}
    val keyed = incoming
      .withColumn("__key", TextFunctions.contentKey(col(textCol)))
      .groupBy(col("__key")).agg(min(col(idCol)).as(idCol))
      .withColumn("__shard", shardOf(col("__key"), s))
    val keyIdx = keyed.schema.fieldIndex("__key")
    val shardIdx = keyed.schema.fieldIndex("__shard")
    val outSchema = keyed.schema.add(StructField("__might", BooleanType))
    // identity routing (partition index == shard id): each task streams
    // exactly one shard's filter and holds nothing else — no per-partition
    // multi-filter cache to bound or evict
    val screenedRdd = keyed.rdd
      .map(r => (r.getInt(shardIdx), r))
      .partitionBy(new IdentityShardPartitioner(s))
      .mapPartitionsWithIndex { (shard, it) =>
        var loaded = false
        var filter: Option[org.apache.spark.util.sketch.BloomFilter] = None
        def filterFor(): Option[org.apache.spark.util.sketch.BloomFilter] = {
          if (!loaded) {
            loaded = true
            val p = new org.apache.hadoop.fs.Path(
              new org.apache.hadoop.fs.Path(cacheDir), shardFile(hash, s, shard))
            val fs = p.getFileSystem(sConf.value)
            filter =
              if (!fs.exists(p)) None // no corpus keys in this shard
              else {
                val in = fs.open(p)
                try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
                finally in.close()
              }
          }
          filter
        }
        it.map { case (_, row) =>
          val might = !row.isNullAt(keyIdx) &&
            filterFor().exists(_.mightContainString(row.getString(keyIdx)))
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ might)
        }
      }
    val screened = spark.createDataFrame(screenedRdd, outSchema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val definitelyNew = screened.filter(!col("__might"))
    val maybe = screened.filter(col("__might"))
    val result =
      if (maybe.isEmpty) definitelyNew
      else {
        val corpusKeys = corpus
          .select(TextFunctions.contentKey(col(textCol)).as("__key"))
        val confirmed = corpusKeys
          .join(broadcast(maybe.select("__key")), Seq("__key"), "left_semi")
          .distinct()
        val stillNew = maybe.join(broadcast(confirmed), Seq("__key"), "left_anti")
        definitelyNew.unionByName(stillNew)
      }
    // materialize the (batch-sized) result while the persist is alive, then
    // RELEASE the persist — the documented steady-state use is one call per
    // ingest batch in a long-running job, and a leaked MEMORY_AND_DISK block
    // per batch would crowd out useful cache. localCheckpoint blocks are
    // freed by the ContextCleaner once the caller drops the frame; a
    // cacheManager-registered persist is not.
    val out = result.drop("__key", "__shard", "__might").localCheckpoint()
    screened.unpersist()
    out
  }

  /** Exact row count from parquet footers — driver-side metadata reads
    * only, no executor scan. The metadata-sizing source for
    * [[incrementalExactBloomCached]]'s `expectedKeys` when the corpus is a
    * parquet-backed table (the dir-version TableFormat stores plain
    * parquet under the data dir). None when the dir is absent. */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession, dir: String): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    var total = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try total += r.getRecordCount finally r.close()
      }
    }
    Some(total)
  }

  /** Distinct word n-gram shingles per document as ONE array column — fully
    * in-row (tokenize → slice → array_distinct), NO shuffle. Per-doc
    * signatures and sizes derive from this row without any aggregation.
    *
    * The tokenized word array is materialized behind its own projection:
    * referencing the regexp+split subtree directly inside the `transform`
    * lambda would inline (and re-evaluate) tokenization once per shingle —
    * measured 10× slower at sf0.1. */
  def shingleArray(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    // one regex pass: split directly on non-alphanumeric runs (equivalent to
    // replace-then-split, measured ~2× less regex time on the shingle path)
    val words = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => length(w) > 0)
    docs.select(col(idCol), words.as("__words"))
      .select(col(idCol), array_distinct(filter(
        transform(sequence(lit(0), greatest(size(col("__words")) - n, lit(0))),
          i => concat_ws(" ", slice(col("__words"), i + 1, lit(n)))),
        s => length(s) > 0)).as("shingles"))
  }

  /** Exploded (id, shingle) form — the inverted-index input. Distinctness is
    * in-row (array_distinct), so no distinct shuffle. The generator consumes
    * the composed array expression directly: projecting the array into its
    * own column first and exploding THAT measured 10× slower (the
    * materialize-array-into-row + re-explode path), while exploding the
    * expression stays on the fast generate path. */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val words = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => length(w) > 0)
    docs.select(col(idCol), words.as("__words"))
      .select(col(idCol), explode(array_distinct(filter(
        transform(sequence(lit(0), greatest(size(col("__words")) - n, lit(0))),
          i => concat_ws(" ", slice(col("__words"), i + 1, lit(n)))),
        s => length(s) > 0))).as("shingle"))
  }

  /** Exploded (id, shingle) n-grams WITHOUT distinctness — the repetition
    * analysis input ([[TextFunctions.repetitionSignals]] counts duplicate
    * n-grams, so collapsing them here would erase the signal). Same
    * tokenizer and generator shape as [[shingles]]. */
  def ngrams(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val words = filter(split(lower(col(textCol)), "[^a-z0-9]+"),
      w => length(w) > 0)
    docs.select(col(idCol), words.as("__words"))
      .select(col(idCol), explode(filter(
        transform(sequence(lit(0), greatest(size(col("__words")) - n, lit(0))),
          i => concat_ws(" ", slice(col("__words"), i + 1, lit(n)))),
        s => length(s) > 0)).as("shingle"))
  }

  /** MinHash signature per document as ONE array column: k "permutations" via
    * portable double hashing (one md5 per shingle, slot j = min(h1 + j·h2) —
    * see [[PortableHash]]), each signature slot a separate min-aggregate — a
    * single shuffle on the id, no k-fold row explosion. (A pure-projection
    * variant via nested transform/array_min benchmarked 60× SLOWER:
    * higher-order functions evaluate interpreted, outside codegen — the flat
    * aggregate form stays in whole-stage codegen.) */
  def minhash(docs: DataFrame, textCol: String, idCol: String, shingleN: Int,
              k: Int): DataFrame = {
    val sh = shingles(docs, textCol, idCol, shingleN)
    val (h1, h2) = PortableHash.pair(col("shingle"))
    val hashed = sh.select(col(idCol), h1.as("__h1"), h2.as("__h2"))
    val aggs = (0 until k).map(i =>
      min(col("__h1") + lit(i.toLong) * col("__h2")).as(s"__h$i"))
    hashed.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding: docs sharing any band signature become candidate
    * pairs; candidates are verified against the full signatures carried
    * through the join (zip_with — no extra join back to the signatures).
    * Returns candidate pairs (id_a < id_b) with estimated Jaccard. */
  /** `maxBucketSize`: skip band buckets holding more than that many docs —
    * a boilerplate-heavy bucket of B docs otherwise emits B²/2 candidate
    * pairs (the quadratic step the banding exists to avoid). Dropping hot
    * buckets loses only candidates that OTHER bands usually still catch;
    * it is the standard LSH scale-safety valve (same role as maxDf on
    * [[ngramJaccardPairs]]). None = unbounded. */
  def minhashLsh(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                 shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.5,
                 maxBucketSize: Option[Int] = None): DataFrame = {
    // persist = hard optimizer barrier: every downstream reference (4 band
    // slices + both join sides + the zip_with verify) would otherwise inline
    // and re-evaluate the whole k×|shingles| hash computation
    val sig = minhash(docs, textCol, idCol, shingleN, numHashes).persist()
    val banded0 = bandKeys(sig, idCol, numHashes, bands)
    val banded = maxBucketSize.fold(banded0) { cap =>
      val keep = banded0.groupBy(col("band_key"))
        .agg(count(lit(1)).as("__bs")).filter(col("__bs") <= cap)
        .select("band_key")
      banded0.join(keep, "band_key")
    }
    val est = banded.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / numHashes)
    Barrier.releaseOnDrop(
      est.filter(col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard"), sig)
  }

  /** The `bands` 64-bit band keys of a signature column: key b = hash of
    * (band index, signature slice b). An 8-byte long join key instead of a
    * concatenated string — the key is ONLY a bucket id (candidates are
    * verified against full signatures downstream), so hashing it costs
    * nothing semantically and cuts the banding shuffle's per-row key bytes
    * ~5-10× at corpus scale. */
  private[graft] def bandKeyArray(numHashes: Int, bands: Int,
                                  sigCol: String = "sig"): org.apache.spark.sql.Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      xxhash64((lit(b) +:
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(sigCol)(i))): _*)
    }: _*)
  }

  /** Per-ROW minhash signature as a pure Column — bit-identical to
    * [[minhash]]'s groupBy form (same shingling, same Kirsch–Mitzenmacher
    * family) but computed entirely in-row with array HOFs: tokenize →
    * shingle → one md5 pair per shingle → k seeded minima. No aggregation,
    * no shuffle, so it works where a groupBy can't — per-row enrichment and
    * APPEND-mode STREAMING micro-batches ([[graft.streaming.Streaming
    * .nearDupStream]]). A doc with zero shingles yields an array of nulls
    * (array_min over empty) — callers filter on `sig[0] IS NOT NULL`, the
    * row-wise analog of such docs simply having no [[minhash]] row. */
  def minhashColumn(text: org.apache.spark.sql.Column, shingleN: Int,
                    k: Int): org.apache.spark.sql.Column = {
    require(shingleN >= 1, "shingleN must be >= 1")
    require(k >= 1, "k must be >= 1") // k=0 would silently yield a
    // wrong-shaped array via sequence(0, -1) = [0, -1] (descending)
    val words = filter(split(lower(text), "[^a-z0-9]+"), w => length(w) > 0)
    // bind the word array as a lambda variable (transform over a 1-element
    // wrapper): referencing the split subtree directly inside the shingle
    // lambda would re-tokenize the full document once per shingle index —
    // the 10× slowdown [[shingleArray]]'s projection exists to avoid,
    // expressed here in pure-Column form
    element_at(transform(array(words), ws => {
      val shingleArr = array_distinct(filter(
        transform(sequence(lit(0), greatest(size(ws) - shingleN, lit(0))),
          i => concat_ws(" ", slice(ws, i + 1, lit(shingleN)))),
        s => length(s) > 0))
      // one md5 per shingle, reused across all k members. pairStruct binds
      // the md5 digest as a lambda variable: [[PortableHash.pair]]'s two
      // columns each carry their own md5 subtree, and in THIS interpreted
      // (HOF) context there is no common-subexpression elimination — the
      // unbound form computed every shingle's md5 twice.
      val hp = transform(shingleArr, s => PortableHash.pairStruct(s))
      // single aggregate pass so `hp` appears ONCE in the expression tree —
      // k separate array_min(transform(hp, …)) calls would inline (and
      // re-md5) the whole shingle hash k times. MaxValue sentinel → null
      // for the zero-shingle case (family values are < 2^38, no collision).
      aggregate(hp,
        array_repeat(lit(Long.MaxValue), k),
        (acc, p) => zip_with(acc, sequence(lit(0), lit(k - 1)),
          (a, j) => least(a, p("h1") + j.cast("long") * p("h2"))),
        acc => transform(acc,
          v => when(v === Long.MaxValue, lit(null).cast("long")).otherwise(v)))
    }), 1)
  }

  /** Band-key projection shared by [[minhashLsh]] /
    * [[incrementalMinhashLsh]]: one row per (doc, band). */
  private def bandKeys(sig: DataFrame, idCol: String,
                       numHashes: Int, bands: Int): DataFrame =
    sig.select(col(idCol), col("sig"),
      explode(bandKeyArray(numHashes, bands)).as("band_key"))

  /** The persisted-corpus side of steady-state NEAR-dup ingest (the
    * [[minhashLsh]] analog of [[incrementalExact]]'s key set): ONE row per
    * doc — (`idCol`, `sig`, `band_keys` array<long>) — computed once per
    * corpus and stored (parquet), then extended per batch by appending the
    * accepted docs' own `minhashBands` delta. One row per doc, not per
    * (doc, band): the signature is the wide field (~8 B × `numHashes`),
    * and a per-band layout would copy it `bands` times — nesting the keys
    * keeps the stored table and every screen scan ~`bands`× smaller while
    * the screen explodes the 8-byte keys in-task, post-scan. At 100 TB
    * successive ingests never re-shingle or re-hash the corpus: the screen
    * reads this table, touching corpus TEXT zero times. Parameters must
    * match the later [[incrementalMinhashLsh]] call exactly — the band key
    * folds the band index and signature slice, so a mismatch silently
    * yields no collisions. */
  def minhashBands(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", shingleN: Int = 3,
                   numHashes: Int = 16, bands: Int = 4): DataFrame =
    minhash(docs, textCol, idCol, shingleN, numHashes)
      .select(col(idCol), col("sig"),
        bandKeyArray(numHashes, bands).as("band_keys"))

  /** Incremental (cross-batch) near-dup screen — the MinHash analog of
    * [[incrementalExactBloom]]'s ingest shape: an incoming batch is
    * screened against a PRE-COMPUTED corpus band table
    * ([[minhashBands]]) without touching corpus text. Returns one row per
    * (incoming, corpus) near-dup pair above `threshold`:
    * (`doc_id`, `corpus_id`, `est_jaccard`) — an incoming doc with no row
    * is novel; the accept/append recipe is
    * `incoming.join(pairs, Seq(idCol), "left_anti")` then
    * `corpusBands union minhashBands(accepted)`.
    *
    * Scale shape: only the BATCH is shingled/hashed (∝ batch, not corpus);
    * the screen is an equi-join on the 8-byte band key. With
    * `broadcastIncoming` (default — ingest batches are small next to a
    * 100 TB corpus) the corpus band table is scanned once with ZERO
    * shuffle: each scan task hash-probes the broadcast batch bands in
    * place, and only collisions (∝ true near-dups) leave the scan. For
    * batch-vs-batch scale set it false → plain shuffle join ∝ postings.
    * `maxBucketSize` is the same valve as [[minhashLsh]]'s, applied to the
    * CORPUS side postings per band key (an intro/boilerplate band bucket
    * of B corpus docs would otherwise emit B candidates per colliding
    * incoming doc). */
  def incrementalMinhashLsh(corpusBands: DataFrame, incoming: DataFrame,
                            textCol: String = "text", idCol: String = "doc_id",
                            shingleN: Int = 3, numHashes: Int = 16,
                            bands: Int = 4, threshold: Double = 0.5,
                            maxBucketSize: Option[Int] = None,
                            broadcastIncoming: Boolean = true): DataFrame = {
    // persist: the batch signature feeds the band explode AND the verify
    // columns; without the barrier the k×|shingles| hash computation
    // re-evaluates per reference (same reasoning as [[minhashLsh]])
    val incSig = minhash(incoming, textCol, idCol, shingleN, numHashes).persist()
    val incBands0 = bandKeys(incSig, idCol, numHashes, bands)
    val incBands = if (broadcastIncoming) broadcast(incBands0) else incBands0
    // one stored row per doc ([[minhashBands]]) → per-band rows in-task
    val corpus0 = corpusBands.select(col(idCol), col("sig"),
      explode(col("band_keys")).as("band_key"))
    val corpus = maxBucketSize.fold(corpus0) { cap =>
      val keep = corpus0.groupBy(col("band_key"))
        .agg(count(lit(1)).as("__bs")).filter(col("__bs") <= cap)
        .select("band_key")
      corpus0.join(keep, "band_key")
    }
    val out = corpus.as("c").join(incBands.as("i"),
        col("c.band_key") === col("i.band_key"))
      .select(col(s"i.$idCol").as(idCol), col(s"c.$idCol").as("corpus_id"),
        col("i.sig").as("sig_i"), col("c.sig").as("sig_c"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_i"), col("sig_c"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / numHashes)
      // one row per (incoming, corpus) pair even if a corpus id was ever
      // stored under two signatures (the re-hash/append maintenance case):
      // keep the BEST estimate, deterministically — the screen flags a pair
      // when ANY stored signature matches. This also collapses multi-band
      // duplicate rows map-side (same reasoning as [[incrementalHamming]]'s
      // min(dist); an arbitrary-row dropDuplicates would be nondeterministic)
      .groupBy(col(idCol), col("corpus_id"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select(idCol, "corpus_id", "est_jaccard")
    Barrier.releaseOnDrop(out, incSig)
  }

  /** SimHash: 60-bit signature where bit b = sign of the weighted sum of
    * shingle-hash bit b. Near-dups have small Hamming distance. 60 bits (not
    * 64) because the portable hash is md5-derived ([[PortableHash.h60]]) so
    * the signature is reproducible by any engine for cross-checking. */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
              shingleN: Int = 2): DataFrame = {
    val sh = shingles(docs, textCol, idCol, shingleN)
      .withColumn("h", PortableHash.h60(col("shingle")))
    val bits = sh.select(col(idCol), explode(sequence(lit(0), lit(59))).as("bit"),
        when(expr("shiftright(h, bit)").bitwiseAND(1) === 1, 1)
          .otherwise(-1).as("vote"))
      .groupBy(col(idCol), col("bit"))
      .agg(sum(col("vote")).as("s"))
    bits.groupBy(col(idCol))
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, bit)")).otherwise(0L))
        .as("simhash"))
  }

  /** Per-distinct-hash cluster labels — the shared core of
    * [[hammingClusters]] and [[Curation.mediaDedup]]: exact-duplicate
    * hashes collapse FIRST (groupBy hash → representative id + member
    * count), then a banded Hamming join runs over DISTINCT hashes only —
    * 64/`bands`-bit band equality proposes candidates — pigeonhole: d bit
    * flips touch at most d of the `bands` bands, so any pair within
    * distance `bands - 1` is GUARANTEED a shared band, and larger-distance
    * pairs are still found whenever their flips cluster into fewer bands —
    * `bit_count(xor)` verifies exactly.
    *
    * RECALL CONTRACT: complete within `maxDist` only when
    * `bands > maxDist` (the default 8 bands cover the default radius 6 with
    * headroom to 7; HammingBandPropertySpec pins this). `bands <= maxDist`
    * is accepted — it trades recall in the [bands, maxDist] ring for fewer
    * candidate pairs — but the guaranteed radius is always `bands - 1`.
    *
    * Shuffle and pair generation scale with DISTINCT hashes, never
    * documents — at 100 TB the distinct-hash frame is orders of magnitude
    * smaller than the corpus, and `maxBucketSize` (same valve as
    * [[minhashLsh]]) bounds any adversarial band bucket. Returns one row
    * per distinct hash: (hashCol, rep_id = smallest id carrying the hash,
    * n_ids = rows carrying it, cluster = smallest id in the connected
    * near-dup component). */
  def hammingLabels(hashes: DataFrame, hashCol: String = "dhash",
                    idCol: String = "media_id", maxDist: Int = 6,
                    bands: Int = 8,
                    maxBucketSize: Option[Int] = None): DataFrame = {
    val reps = hashes.filter(col(hashCol).isNotNull)
      .groupBy(col(hashCol).as("__h"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__cnt"))
      .persist()
    val banded0 = hammingBandBits(
      reps.select(col("__h"), col("__rep")), "__h", "__rep", bands)
    val banded = maxBucketSize.fold(banded0)(dropHotBuckets(banded0, _))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__bits") === col("y.__bits") &&
          col("x.__h") < col("y.__h"))
      .select(col("x.__h").as("__ha"), col("y.__h").as("__hb"),
        col("x.__rep").as("__ra"), col("y.__rep").as("__rb"))
      .distinct()
    val pairs = cand.filter(
      expr(s"bit_count(__ha ^ __hb) <= $maxDist"))
    val comp = clusters(pairs.select(col("__ra").as("id_a"), col("__rb").as("id_b")))
    // reps stays persisted until the caller's action completes (it is read
    // by the band join AND the final label join); released on result drop
    Barrier.releaseOnDrop(reps
      .join(comp.withColumnRenamed("id", "__rep"), Seq("__rep"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("__rep")))
      .select(col("__h").as(hashCol), col("__rep").as("rep_id"),
        col("__cnt").as("n_ids"), col("cluster")), reps)
  }

  /** Perceptual-hash near-dup clusters (the corpus side of
    * [[Multimodal.imageDHash]]): [[hammingLabels]] rolled up to one row per
    * duplicate cluster — (cluster, keep_id = smallest member id, n_dups =
    * member count, n_hashes = distinct signatures merged). Same recall
    * contract and 100 TB shape as [[hammingLabels]]. */
  def hammingClusters(hashes: DataFrame, hashCol: String = "dhash",
                      idCol: String = "media_id", maxDist: Int = 6,
                      bands: Int = 8,
                      maxBucketSize: Option[Int] = None): DataFrame =
    hammingLabels(hashes, hashCol, idCol, maxDist, bands, maxBucketSize)
      .groupBy(col("cluster"))
      .agg(min(col("rep_id")).as("keep_id"), sum(col("n_ids")).as("n_dups"),
        count(lit(1)).as("n_hashes"))

  /** Incremental (cross-batch) Hamming screen — the perceptual-hash analog
    * of [[incrementalMinhashLsh]], completing the multimodal ingest story:
    * a new media batch (hashed once by [[Multimodal.imageDHash]] /
    * `audioFingerprint` / `videoFrameDHash`) is screened against the
    * STORED corpus hash table — (`idCol`, `hashCol`), 16 bytes per row,
    * extended by appending accepted rows — without re-decoding a single
    * corpus payload. Returns one row per (incoming, corpus) pair within
    * `maxDist` bits: (`idCol`, `corpus_id`, `dist`); an incoming id with
    * no row is novel. Same banded recall contract as [[hammingLabels]]:
    * complete for distance < `bands`, `maxDist` beyond that is
    * verify-only.
    *
    * Scale shape: the corpus table is SCANNED once — bands explode
    * in-task, each task hash-probes the broadcast incoming bands
    * (`broadcastIncoming`, default: ingest batches are small next to the
    * corpus), and only candidate collisions (∝ true near-dups) leave the
    * scan; nothing shuffles. `maxBucketSize` caps per-(band, bits) CORPUS
    * postings — the black-frame/solid-color valve. */
  def incrementalHamming(corpusHashes: DataFrame, incoming: DataFrame,
                         hashCol: String = "dhash", idCol: String = "media_id",
                         maxDist: Int = 6, bands: Int = 8,
                         maxBucketSize: Option[Int] = None,
                         broadcastIncoming: Boolean = true): DataFrame = {
    val inc0raw = hammingBandBits(
      incoming.select(col(idCol), col(hashCol)), hashCol, idCol, bands)
    // the capped broadcast arm references the incoming bands twice (bucket
    // set + pairs join); an eager localCheckpoint (∝ batch, reclaimed by
    // the ContextCleaner when the result frame drops — no CacheManager
    // leak across a long-lived ingest loop) evaluates the batch's
    // decode/hash lineage exactly once
    val inc0 = if (broadcastIncoming && maxBucketSize.isDefined)
      inc0raw.localCheckpoint() else inc0raw
    val inc = if (broadcastIncoming) broadcast(inc0) else inc0
    val corp0 = hammingBandBits(
      corpusHashes.select(col(idCol).as("corpus_id"), col(hashCol)),
      hashCol, "corpus_id", bands)
    // keep the one-corpus-scan contract on the capped path too: restrict
    // the scan to the buckets the batch actually probes FIRST (semi-join
    // against the broadcast batch-bucket set — the probed postings are
    // small, ∝ collisions), then count/cap over THAT, never over the
    // full corpus twice
    val corp = (broadcastIncoming, maxBucketSize) match {
      case (true, Some(cap)) =>
        val probed = corp0.join(
            broadcast(inc0.select(col("__band"), col("__bits")).distinct()),
            Seq("__band", "__bits"))
          .localCheckpoint() // read twice (hot count + anti); ∝ collisions
        dropHotBuckets(probed, cap)
      case (true, None) => corp0
      case (false, cap) => cap.fold(corp0)(dropHotBuckets(corp0, _))
    }
    corp.as("c").join(inc.as("i"),
        col("c.__band") === col("i.__band") && col("c.__bits") === col("i.__bits"))
      .select(col(s"i.$idCol").as(idCol), col("c.corpus_id"),
        col("i.__h").as("__hi"), col("c.__h").as("__hc"))
      .withColumn("__dist", expr("bit_count(__hi ^ __hc)"))
      .filter(col("__dist") <= maxDist)
      // one row per (incoming, corpus) pair even if an id was ever stored
      // under two hashes (re-hash after a codec change): keep the closest,
      // deterministically. This also collapses multi-band duplicate rows
      // map-side — a separate distinct would be a second, redundant shuffle
      .groupBy(col(idCol), col("corpus_id"))
      .agg(min(col("__dist")).as("dist"))
  }

  /** Drop (band, bits) buckets holding more than `cap` postings — the
    * LSH hot-bucket valve, shared by [[hammingLabels]] and both
    * [[incrementalHamming]] cap arms. */
  private def dropHotBuckets(banded: DataFrame, cap: Int): DataFrame = {
    val hot = banded.groupBy(col("__band"), col("__bits"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
      .select(col("__band"), col("__bits"))
    banded.join(broadcast(hot), Seq("__band", "__bits"), "left_anti")
  }

  /** One row per (id, band) over non-null 64-bit hashes: `__h` (the hash,
    * renamed so caller column names never reach a SQL `expr`), `__band`,
    * `__bits` (the band's bit slice). Shared by [[hammingLabels]] and
    * [[incrementalHamming]]. */
  private def hammingBandBits(df: DataFrame, hashCol: String, idCol: String,
                              bands: Int): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    df.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).as("__h"))
      .withColumn("__band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("__bits",
        expr(s"shiftrightunsigned(__h, __band * $width)").bitwiseAND(lit(mask)))
  }

  /** Video near-dup pairs by frame-signature overlap (content-ID style:
    * two videos are near-dups when ≥ `minShared` of their frame hashes
    * fall in the same Hamming clusters — re-encoded or slightly-edited
    * copies share most frames within a few bits). Input is one row per
    * (video, frame) from [[Multimodal.videoFrameDHash]]. Pipeline:
    * [[hammingLabels]] over DISTINCT frame hashes → each video's distinct
    * cluster set → inverted-index self-join on the cluster label, so pair
    * generation is ∝ cluster postings, never videos² — and `maxPostings`
    * (the [[ngramJaccard]] maxDf valve) drops ubiquitous frames (intros,
    * black frames) that would otherwise pair everything with everything.
    * Returns (id_a, id_b, shared_frames) with id_a < id_b. */
  def videoNearDups(frameHashes: DataFrame, idCol: String = "media_id",
                    hashCol: String = "dhash", minShared: Int = 2,
                    maxDist: Int = 6, bands: Int = 8,
                    maxBucketSize: Option[Int] = None,
                    maxPostings: Option[Int] = None): DataFrame = {
    val frames = frameHashes.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol))
    // cluster FRAME HASHES, labeled by the smallest hash in the component —
    // NOT by media id ([[hammingLabels]]' default): one video carries many
    // distinct frame hashes, and id-based labels would collapse them all
    // into one cluster per video (every frame's rep is the same min id)
    val labels = hammingLabels(
        frames.select(col(hashCol).as("__fid"), col(hashCol)),
        hashCol, "__fid", maxDist, bands, maxBucketSize)
      .select(col(hashCol), col("cluster"))
    val vidClusters = frames.join(labels, Seq(hashCol))
      .select(col(idCol), col("cluster")).distinct()
    val pruned = maxPostings.fold(vidClusters) { cap =>
      val hot = vidClusters.groupBy(col("cluster"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select(col("cluster"))
      vidClusters.join(broadcast(hot), Seq("cluster"), "left_anti")
    }
    pruned.as("a").join(pruned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }

  /** Near-dup clusters from a pair list: connected components by iterative
    * min-label propagation (the GraphX/Pregel CC algorithm as plain DataFrame
    * joins — each round is one shuffle-join; rounds ≤ component diameter,
    * logarithmic in practice for near-dup blobs). Returns (id, cluster) with
    * cluster = the smallest id in the component — downstream "keep one doc
    * per duplicate group" is a groupBy(cluster). */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIterations: Int = 20): DataFrame = {
    // persist, NOT a checkpoint (r17 note): a lazy iterCheckpoint here was
    // tried for the analysis-tax cut rankGraph got, and REVERTED — the
    // InMemoryRelation's materialized-size statistics are what keep the
    // label join downstream (hammingLabels' reps ⋈ comp) statically
    // broadcast (BenchPlanSpec pin); a LogicalRDD reports default stats
    // and the static plan degraded to sort-merge. The measured analysis
    // saving was also marginal (0.59 → 0.54 s construction CPU), unlike
    // rankGraph's 3.7 → 1.0 s.
    val edges = clusterEdges(pairs, idA, idB)
    try {
      // the label vector is an eager checkpoint from round 0: each round
      // reads it twice (the propagation join and the convergence diff),
      // lineage truncates per round, and the SUPERSEDED vector releases
      // deterministically once the new one holds the data (see [[Barrier]]
      // — waiting for GC leaves one |V| vector per round in the block
      // manager of a long-lived driver)
      var labelsCk = Barrier.iterCheckpoint(edges.select(col("a").as("id"))
        .distinct().withColumn("cluster", col("id")))
      var labels = labelsCk
      var iter = 0
      var converged = false
      while (!converged && iter < maxIterations) {
        val stable = Barrier.iterCheckpoint(clusterRound(edges, labels))
        converged = stable.filter(col("__changed")).isEmpty
        Barrier.release(labelsCk)
        labelsCk = stable
        labels = stable.select(col("id"), col("cluster"))
        iter += 1
      }
      labels
    } finally edges.unpersist()
  }

  /** The persisted symmetric edge list [[clusters]] iterates over —
    * extracted so the iteration-plan probe dumps exactly the loop's frame.
    *
    * Partitioned BY `b` — the key every propagation round joins on (r18,
    * guide §2.4): hash(b) co-locates duplicate (a,b) rows too, so the
    * distinct runs WITHOUT its own exchange (ClusteredDistribution(a,b) is
    * satisfied by HashPartitioning(b) — same one-shuffle construction cost
    * as the old hash(a,b) distinct), and the cached layout is the one the
    * k iteration joins need, instead of one they must re-Exchange |E| rows
    * away from every round once the edge side outgrows broadcast. The
    * in-partition sort gives the cache an outputOrdering on `b`, so a
    * sort-merge propagation join at scale re-sorts only the label vector,
    * never the edge list. */
  private[graft] def clusterEdges(pairs: DataFrame, idA: String = "id_a",
                                  idB: String = "id_b"): DataFrame =
    pairs.select(col(idA).as("a"), col(idB).as("b"))
      .unionByName(pairs.select(col(idB).as("a"), col(idA).as("b")))
      .repartition(col("b"))
      .distinct()
      .sortWithinPartitions("b")
      .persist()

  /** One label-propagation round — THE frame that runs `maxIterations`
    * times at 100 TB (shared by the loop and the plan probe): each node
    * pulls the min cluster label among itself and its neighbors. The new
    * label AND a per-row did-it-change flag ride ONE checkpointed frame, so
    * the convergence probe is a filter scan over the already-materialized
    * local blocks — the previous shape (a fresh old⋈new join per round)
    * re-planned and re-ran a two-join AQE query whose scheduler rounds
    * dominated the loop's wall on small graphs (r17 profile: the label loop
    * was ~75% of td_hamming_clusters' warm wall, nearly all of it in
    * near-empty stages). Same rounds, same labels, same result. */
  private[graft] def clusterRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.withColumnRenamed("id", "b").withColumnRenamed("cluster", "nc"), "b")
      .groupBy(col("a").as("id")).agg(min(col("nc")).as("nmin"))
    val newCluster = least(col("cluster"), coalesce(col("nmin"), col("cluster")))
    labels.join(neighborMin, Seq("id"), "left")
      .select(col("id"), newCluster.as("cluster"),
        (newCluster =!= col("cluster")).as("__changed"))
  }

  /** Benchmark-contamination detection: corpus documents sharing at least
    * `minOverlap` distinct word n-grams with ANY document of `benchmark`
    * (the canonical "is eval data in the training set" check). Inverted-index
    * semi-join on the shingle — shuffle ∝ shared postings, never the
    * corpus × benchmark product; the benchmark side is typically tiny and
    * broadcastable. */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    n: Int = 3, minOverlap: Int = 1): DataFrame = {
    val corpusSh = shingles(corpus, textCol, idCol, n)
    val benchSh = shingles(benchmark, textCol, idCol, n)
      .select(col(idCol).as("bench_id"), col("shingle"))
    corpusSh.join(benchSh, "shingle")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Canonicalization: the keep-one-per-cluster decision that turns a
    * near-dup pair graph into a curation verdict. Docs outside any pair are
    * their own singleton cluster; within a cluster the highest-`score`
    * member wins (ties → lowest id). Cost = [[clusters]] over the pair
    * graph + one window over cluster members — never over the corpus. */
  def canonicalize(docs: DataFrame, pairs: DataFrame, score: org.apache.spark.sql.Column,
                   idCol: String = "doc_id"): DataFrame = {
    val cl = clusters(pairs).withColumnRenamed("id", idCol)
    val labeled = docs.select(col(idCol), score.as("__score"))
      .join(cl, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(col("__score").desc, col(idCol))
    labeled.withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster"), col("keep"))
  }

  /** Cross-document span duplication (the exact-substring dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better",
    * at word-window granularity): a span = a `w`-word window at every
    * position; a span is duplicated when it occurs in ≥2 distinct documents.
    * Returns per-doc (n_spans, dup_spans, dup_frac) — the fraction of the
    * document covered by cross-corpus boilerplate, the standard cut signal.
    * Inverted index on the span: shuffle ∝ total span postings, never the
    * doc-pair product; map-side partial aggregation collapses each doc's
    * repeated spans before the exchange. */
  def crossDocSpans(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", w: Int = 8): DataFrame = {
    val spans = ngrams(docs, textCol, idCol, w) // every position, duplicates kept
    val docsPerSpan = spans.select(col(idCol), col("shingle")).distinct()
      .groupBy(col("shingle")).agg(count(lit(1)).as("__n_docs"))
    spans.join(docsPerSpan, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__n_docs") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_frac", round(col("dup_spans") / col("n_spans"), 4))
  }

  /** Suffix-granular exact-substring dedup (the character-offset signal of
    * Lee et al.'s suffix-array dedup, via sorted k-mer anchoring): returns
    * every maximal span (doc_id, start, len) whose every `minLen`-char
    * window also occurs in at least one OTHER document — i.e. the regions a
    * substring-level dedup would cut, with exact char offsets, unlike
    * [[crossDocSpans]]'s word-window per-doc fractions.
    *
    * Equivalence to the suffix-array formulation: a substring of length
    * ≥ minLen is duplicated across docs iff at least one of its minLen-char
    * windows is, so anchoring on exactly-minLen k-mers finds every such
    * region; consecutive duplicated anchors merge into maximal runs
    * (start = first anchor offset, len = run + minLen − 1). Like all
    * anchor-based approximations (and unlike a true suffix array), a merged
    * run may stitch windows matching DIFFERENT source docs — fine for the
    * cut-this-region use the signal exists for.
    *
    * Scale shape: the k-mer explosion is linear in corpus chars (one row
    * per char offset), keyed by xxhash64 of the window — an 8-byte shuffle
    * key. Duplicated anchors come from one map-side-combined groupBy plus a
    * postings-bounded semi-join back (never a doc-pair product); the run
    * merge is a per-doc window bounded by document length. Offsets are
    * 0-based char offsets (byte offsets for ascii corpora). */
  def substringSpans(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", minLen: Int = 30): DataFrame = {
    val k = minLen
    // one row per char offset: (doc, 0-based offset, hashed k-window)
    val kmers = docs
      .select(col(idCol), posexplode(expr(
        s"CASE WHEN length($textCol) >= $k THEN " +
          s"transform(sequence(1, length($textCol) - $k + 1), i -> substring($textCol, i, $k)) " +
          "ELSE array() END")).as(Seq("off", "kmer")))
      .select(col(idCol), col("off").cast("long").as("off"),
        xxhash64(col("kmer")).as("kh"))
    // NO persist: this frame is one row per corpus CHARACTER (2–3× corpus
    // bytes) — caching it materializes petabytes at 100 TB. It feeds both
    // the doc-frequency agg and the join back, so dropping the cache costs
    // one extra scan-speed explode+hash pass over the input, which is the
    // right trade (CPU-cheap, storage-free); shuffle volume is unchanged.
    val dupAnchors = kmers.select(col("kh"), col(idCol)).distinct()
      .groupBy(col("kh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select("kh")
    val anchored = kmers.join(dupAnchors, "kh").select(col(idCol), col("off"))
    // consecutive offsets share (off - row_number) — the classic gaps-and-
    // islands grouping, partitioned per doc so no global ordering exists
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("off"))
    anchored.withColumn("__grp", col("off") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("off")).as("start"),
        (max(col("off")) - min(col("off")) + k).as("len"))
      .select(col(idCol), col("start"), col("len"))
  }

  /** Exact n-gram Jaccard near-dup pairs: inverted index on shingles (the
    * bucket key), intersection counted per pair, |A∪B| = |A|+|B|−|A∩B|.
    * Shuffle ∝ Σ shingle postings, not n².
    *
    * The pair generation is a codegen'd self-join on the shingle key — a
    * posting-list variant (collect_list + nested-transform pair explosion)
    * measured 1.5–3× SLOWER here: the interpreted HOF rebuilds O(M²) slice
    * arrays per list, while the join stays inside Tungsten. `maxDf` drops
    * shingles present in more than that many documents — the standard
    * stop-shingle cut that bounds the per-shingle pair blowup (a boilerplate
    * shingle in M docs otherwise yields M²/2 candidates) and the knob that
    * keeps the join's hottest key bounded at corpus scale. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Option[Int] = None): DataFrame = {
    // per-doc sizes come straight off the in-row shingle array (no groupBy);
    // the exploded relation feeds both self-join sides — persist so
    // tokenization runs once
    val arr = shingleArray(docs, textCol, idCol, n).persist()
    val sizes = arr.select(col(idCol), size(col("shingles")).as("n_sh"))
    // join on a 64-bit hash of the shingle, not the string: ~2.5× narrower
    // join-key bytes through the pair-join exchange (measured 12% wall at
    // sf0.1; the byte ratio is what holds at 100 TB). Same negligible-
    // collision argument as the LSH band keys: a colliding pair perturbs
    // one intersection count with probability ~2⁻⁶⁴ per shingle pair.
    // each posting row carries its doc's shingle COUNT (+8 bytes through the
    // pair-join exchange) to fund the length filter below
    val sh0 = arr.select(col(idCol), size(col("shingles")).as("__n"),
        explode(col("shingles")).as("__s"))
      .select(col(idCol), col("__n"), xxhash64(col("__s")).as("shingle"))
    val sh = maxDf.fold(sh0) { m =>
      val keep = sh0.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= m).select("shingle")
      sh0.join(keep, "shingle") // broadcast-or-shuffle per AQE; df-capped
    }
    // LENGTH FILTER (r18, the standard size bound of the similarity-join
    // literature): J(A,B) ≤ min(|A|,|B|) / max(|A|,|B|), so a pair whose
    // size ratio is below the threshold can never pass the final jaccard
    // filter — drop it AT THE JOIN, before it feeds the intersection
    // aggregate. The 1e-4 slack covers the report's round(·, 4): a pair is
    // only skipped when even the rounded score must fall below `threshold`,
    // so the output is provably identical. With maxDf capping postings,
    // inter only shrinks — the bound still holds.
    val lengthCompatible =
      least(col("a.__n"), col("b.__n")).cast("double") >=
        lit(threshold - 1e-4) * greatest(col("a.__n"), col("b.__n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol") &&
          lengthCompatible)
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    Barrier.releaseOnDrop(inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard"), arr)
  }
}
