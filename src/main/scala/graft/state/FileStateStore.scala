package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.core._

/** Durable state persistence (reference: sqlmesh/core/state_sync/db — tables
  * `_snapshots` snapshot.py:59-77, `_intervals` interval.py:47-66,
  * `_environments` environment.py:33-56, `_versions` version.py:27).
  *
  * Snapshot/interval/environment records are driver-side metadata, tiny even
  * for thousands of models, so durability — not distribution — is the
  * requirement. The store delegates to an in-memory image persisted in two
  * tiers: STRUCTURAL mutations (snapshots, environments, restatements)
  * rewrite the whole image as JSON via write-to-temp + atomic rename, so a
  * crashed run never leaves a torn state file (the reference gets the same
  * guarantee from its database transactions); INTERVAL mutations — the
  * per-batch hot path, the only thing a scheduler wave touches — append to
  * a delta log (`state.delta.jsonl` / `GRAFT_STATE_DELTA`), so a wave flush
  * costs ∝ its own dirty intervals, not O(total snapshots × intervals)
  * (the reference's `_intervals` table gets this for free from row
  * INSERTs, interval.py:47-66). The log replays over the image on load and
  * compacts into the next full rewrite. Intervals are compacted in memory
  * on every write (`is_compacted` flag semantics) because
  * [[Snapshot.addInterval]] merges.
  *
  * Scala-bodied models (the reference's Python models, which it round-trips
  * through `python_env` serialization) are restored through `scalaRegistry`;
  * an unregistered body surfaces an error only if something actually tries to
  * evaluate it.
  */
final class FileStateStore(
    val dir: String,
    scalaRegistry: Map[String, (org.apache.spark.sql.SparkSession, Map[String, String], Long, Long) => org.apache.spark.sql.DataFrame] = Map.empty)
  extends StateStore {

  private val mapper = new ObjectMapper()
  private val blob: FileStateStore.Blob =
    if (dir.startsWith("jdbc:")) new FileStateStore.JdbcBlob(dir)
    else if (dir.contains("://")) new FileStateStore.HadoopBlob(dir)
    else new FileStateStore.LocalBlob(dir)
  /** Last transaction counter this instance observed in the file. persist()
    * rejects the write when the file moved past it — the optimistic
    * lost-update guard standing in for the reference state DB's
    * transactions (two concurrent writers must fail loudly, never silently
    * drop each other's intervals/snapshots). */
  private var txn: Long = 0L
  /** Schema version of the stored image as last read from disk (persist()
    * always writes the current version; migrateNow() reports against this). */
  private var loadedVersion: Int = FileStateStore.SchemaVersion

  private val mem = new InMemoryStateStore

  /** Interval mutations buffered since the last durable flush — the
    * delta-log payload. Any OTHER mutation sets `dirtyFull`, forcing the
    * next flush to rewrite (and thereby compact) the whole image, so a
    * delta record can never outlive the snapshot it references. (Declared
    * before load(): the constructor-time load replays the on-disk log into
    * `deltaLines`.) */
  private val pendingDeltas = scala.collection.mutable.ArrayBuffer[ObjectNode]()
  private var dirtyFull = false
  /** Records currently in the on-disk delta log (compaction trigger). */
  private var deltaLines = 0L

  load()

  // ------------------------------------------------------------ StateStore

  def pushSnapshot(s: Snapshot): Unit = synchronized { mem.pushSnapshot(s); persistFull() }
  def getSnapshot(name: String, version: String): Option[Snapshot] = mem.getSnapshot(name, version)
  def getSnapshotById(name: String, identifier: String): Option[Snapshot] =
    mem.getSnapshotById(name, identifier)
  def latestSnapshot(name: String): Option[Snapshot] = mem.latestSnapshot(name)
  def allSnapshots: Seq[Snapshot] = mem.allSnapshots
  def deleteSnapshot(name: String, version: String): Unit = synchronized {
    mem.deleteSnapshot(name, version); persistFull()
  }
  def addInterval(name: String, version: String, interval: Interval, dev: Boolean): Unit =
    synchronized {
      mem.addInterval(name, version, interval, dev)
      pendingDeltas += deltaRecord("add", name, version, interval, dev)
      persist()
    }
  def removeInterval(name: String, version: String, interval: Interval): Unit =
    synchronized {
      mem.removeInterval(name, version, interval)
      pendingDeltas += deltaRecord("remove", name, version, interval, dev = false)
      persist()
    }
  def promoteEnvironment(env: EnvironmentRecord): Unit = synchronized {
    mem.promoteEnvironment(env); persistFull()
  }
  def getEnvironment(name: String): Option[EnvironmentRecord] = mem.getEnvironment(name)
  def finalizeEnvironment(name: String): Unit = synchronized {
    mem.finalizeEnvironment(name); persistFull()
  }
  def deleteEnvironment(name: String): Unit = synchronized {
    mem.deleteEnvironment(name); persistFull()
  }
  def environments: Seq[EnvironmentRecord] = mem.environments
  def lastAutoRestatement(name: String): Option[Long] = mem.lastAutoRestatement(name)
  def setAutoRestatement(name: String, ts: Long): Unit = synchronized {
    mem.setAutoRestatement(name, ts); persistFull()
  }

  /** export/import surface (reference state_sync/export_import.py). The
    * export serializes the LIVE in-memory image (image + replayed deltas),
    * so a delta-log tail is never lost to a raw file copy. */
  def exportTo(path: String): Unit = synchronized {
    Files.write(Paths.get(path), imageBytes(txn)); ()
  }

  /** `sqlmesh state import`: replace this store's contents with an exported
    * state file (migrated through the schema versions like any load). */
  def importFrom(path: String): Unit = synchronized {
    blob.writeAtomic(Files.readAllBytes(Paths.get(path)))
    blob.clearDelta()
    deltaLines = 0L
    pendingDeltas.clear()
    mem.clearAll()
    load()
  }

  /** `sqlmesh migrate` (cli/main.py:938 → state_sync/db/migrator.py): rewrite
    * the on-disk state at the CURRENT schema version, backing the
    * pre-migration image up first so [[rollback]] can undo it. Loading
    * already migrates in memory; this persists the upgrade explicitly.
    * Returns true when the stored image was actually behind. */
  def migrateNow(): Boolean = synchronized {
    if (loadedVersion >= FileStateStore.SchemaVersion) false
    else {
      blob.backup()
      persistFull()
      loadedVersion = FileStateStore.SchemaVersion
      true
    }
  }

  /** `sqlmesh rollback` (cli/main.py:947): restore the pre-migration backup
    * taken by the last [[migrateNow]] over the live state. The delta log is
    * discarded with the live image — its records describe post-backup
    * intervals that no longer apply. */
  def rollback(): Unit = synchronized {
    if (!blob.restoreBackup())
      throw new IllegalArgumentException(
        s"no pre-migration backup to roll back to in $dir")
    blob.clearDelta()
    deltaLines = 0L
    pendingDeltas.clear()
    mem.clearAll()
    txn = 0L
    load()
  }

  // -------------------------------------------------------------- persist

  /** deferPersist nesting depth + whether a mutation happened inside the
    * scope. Guarded by this store's monitor (every mutator is synchronized);
    * the scope is store-global, not thread-local, because the scheduler's
    * worker threads mutate while the coordinating thread holds the scope. */
  private var deferDepth = 0
  private var deferDirty = false

  /** Durable writes performed so far (the txn counter) — probe/spec
    * observability for "how many whole-image rewrites did this workload
    * cost", nothing functional reads it. */
  private[graft] def durableWrites: Long = synchronized(txn)

  override def deferPersist[T](f: => T): T = {
    synchronized { deferDepth += 1 }
    var primary: Throwable = null
    try f
    catch { case t: Throwable => primary = t; throw t }
    finally {
      val flush = synchronized {
        deferDepth -= 1
        val d = deferDepth == 0 && deferDirty
        if (d) deferDirty = false
        d
      }
      // a flush failure must not MASK the body's exception (the root cause
      // of a failed wave) — attach it as suppressed instead
      if (flush)
        try synchronized(persist())
        catch {
          case t: Throwable =>
            if (primary == null) throw t else primary.addSuppressed(t)
        }
    }
  }

  private def deltaRecord(op: String, name: String, version: String,
                          iv: Interval, dev: Boolean): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("op", op); o.put("name", name); o.put("version", version)
    o.put("s", iv.start); o.put("e", iv.end)
    if (dev) o.put("dev", true)
    o
  }

  private def persistFull(): Unit = { dirtyFull = true; persist() }

  private def persist(): Unit =
    if (deferDepth > 0) deferDirty = true else persistNow()

  private def persistNow(): Unit = blob.withLock {
    // optimistic concurrency: the store must still be at the txn this
    // instance last read/wrote, else another writer has intervened. The txn
    // check reads the image HEAD or the delta-log tail (O(1)/O(log), never
    // O(state)), and on local filesystems the whole check-then-write runs
    // under an OS file lock so a concurrent process can't slip a write into
    // the gap (TOCTOU).
    if (blob.exists) {
      // max of both channels: a stale log (crash between a full rewrite and
      // its clearDelta) can trail the image, and a live log always leads it
      val onDisk = math.max(blob.readTxn(), blob.readLastDeltaTxn().getOrElse(0L))
      if (onDisk != txn)
        throw new java.util.ConcurrentModificationException(
          s"state advanced to txn $onDisk behind this store (at $txn): " +
            "another writer holds this state dir — refusing to clobber its writes")
    }
    // hot path: a flush that is ONLY buffered interval records appends them
    // to the delta log — cost ∝ the records in THIS flush (the dirty
    // intervals of one scheduler wave), not the whole image, which at
    // 10k-model scale is the difference between bytes and megabytes per
    // wave. Everything else (or a log past its compaction bound, or a store
    // with no base image yet) rewrites the full image, which also truncates
    // the log.
    val deltaOnly = !dirtyFull && pendingDeltas.nonEmpty && blob.deltaSupported &&
      blob.exists && deltaLines + pendingDeltas.size <= FileStateStore.DeltaCompactBound
    if (deltaOnly) {
      val sb = new StringBuilder
      pendingDeltas.foreach { d =>
        d.put("txn", txn + 1)
        sb.append(d.toString).append('\n')
      }
      blob.appendDelta(sb.toString.getBytes("UTF-8"))
      deltaLines += pendingDeltas.size
    } else {
      blob.writeAtomic(imageBytes(txn + 1))
      blob.clearDelta()
      deltaLines = 0L
    }
    pendingDeltas.clear()
    dirtyFull = false
    txn += 1
  }

  /** The full state image at a given txn — persistNow's full-write payload
    * and the export format. */
  private def imageBytes(txnVal: Long): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", FileStateStore.SchemaVersion)
    root.put("txn", txnVal)
    val snaps = root.putArray("snapshots")
    mem.allSnapshots.foreach(s => snaps.add(snapshotJson(s)))
    val envs = root.putArray("environments")
    mem.environments.foreach { e =>
      val o = mapper.createObjectNode()
      o.put("name", e.name); o.put("finalized", e.finalized)
      e.planId.foreach(o.put("plan_id", _))
      e.expirationTs.foreach(o.put("expiration_ts", _))
      o.put("suffix_target", e.suffixTarget)
      e.catalog.foreach(o.put("catalog", _))
      val m = o.putObject("snapshots")
      e.snapshots.foreach { case (k, v) => m.put(k, v) }
      val ids = o.putObject("identifiers")
      e.identifiers.foreach { case (k, v) => ids.put(k, v) }
      envs.add(o)
    }
    val ar = root.putObject("auto_restatements")
    mem.allAutoRestatements.foreach { case (k, v) => ar.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
  }

  /** Stepwise state-schema migrations (reference state_sync/db/migrator.py:
    * `_versions` table + ordered migration scripts). Each entry upgrades the
    * raw JSON tree from version k to k+1 before decoding; the next persist()
    * rewrites the file at the current version. */
  private def migrate(root: JsonNode): JsonNode = {
    var v = root.path("version").asInt(1)
    while (v < FileStateStore.SchemaVersion) {
      FileStateStore.migrations(v)(root.asInstanceOf[ObjectNode], mapper)
      v += 1
    }
    root
  }

  private def load(): Unit = if (blob.exists) {
    val raw = mapper.readTree(blob.readAll())
    loadedVersion = raw.path("version").asInt(1)
    val root = migrate(raw)
    txn = root.path("txn").asLong(0L)
    root.path("snapshots").forEach(n => mem.pushSnapshot(snapshotFromJson(n)))
    root.path("environments").forEach { n =>
      val snapMap = scala.collection.mutable.Map[String, String]()
      n.path("snapshots").properties().forEach(e => snapMap(e.getKey) = e.getValue.asText())
      val idMap = scala.collection.mutable.Map[String, String]()
      n.path("identifiers").properties().forEach(e => idMap(e.getKey) = e.getValue.asText())
      mem.promoteEnvironment(EnvironmentRecord(
        n.path("name").asText(), snapMap.toMap, n.path("finalized").asBoolean(),
        Option(n.get("plan_id")).map(_.asText()), idMap.toMap,
        Option(n.get("expiration_ts")).map(_.asLong()),
        Option(n.get("suffix_target")).map(_.asText()).getOrElse("schema"),
        Option(n.get("catalog")).map(_.asText())))
    }
    root.path("auto_restatements").properties().forEach(e =>
      mem.setAutoRestatement(e.getKey, e.getValue.asLong()))
    // replay the interval delta log over the image. A crash mid-append
    // leaves ONE torn (unparseable) line — that flush's durability is lost,
    // the same failure class as crashing before the write — and a recovered
    // store appends AFTER the fragment, so torn lines can sit mid-log:
    // skip them, keep every complete record (all of which are parseable).
    // Records whose txn is not PAST the image's are skipped too: a crash
    // between a full rewrite's writeAtomic and its clearDelta leaves stale
    // pre-rewrite records behind, and replaying them would mutate state the
    // newer image already supersedes (live records always carry
    // txn > image txn by construction).
    val imageTxn = txn
    val deltaBytes = blob.readDeltaAll()
    if (deltaBytes.nonEmpty) {
      new String(deltaBytes, "UTF-8").linesIterator.filter(_.nonEmpty).foreach { line =>
        try {
          val n = mapper.readTree(line)
          val recTxn = n.path("txn").asLong(0L)
          // stale lines still occupy the file — count them so compaction
          // (and the on-disk tail the optimistic check reads) stays honest
          deltaLines += 1
          if (recTxn > imageTxn) {
            val iv = Interval(n.path("s").asLong(), n.path("e").asLong())
            val name = n.path("name").asText(); val ver = n.path("version").asText()
            n.path("op").asText() match {
              case "add"    => mem.addInterval(name, ver, iv, n.path("dev").asBoolean(false))
              case "remove" => mem.removeInterval(name, ver, iv)
              case other    => throw new IllegalArgumentException(s"unknown delta op $other")
            }
            txn = math.max(txn, recTxn)
          }
        } catch { case _: Exception => () }
      }
    }
  }

  // ---------------------------------------------------------------- codec

  private def strArr(xs: Iterable[String]): ArrayNode = {
    val a = mapper.createArrayNode(); xs.foreach(a.add); a
  }
  private def seqOf(n: JsonNode): Seq[String] = {
    val b = Seq.newBuilder[String]; n.forEach(x => b += x.asText()); b.result()
  }
  private def mapOf(n: JsonNode): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    n.properties().forEach(e => b += e.getKey -> e.getValue.asText()); b.result()
  }
  private def putMap(o: ObjectNode, field: String, m: Map[String, String]): Unit = {
    val mo = o.putObject(field); m.foreach { case (k, v) => mo.put(k, v) }; ()
  }

  private def intervalsJson(is: Seq[Interval]): ArrayNode = {
    val a = mapper.createArrayNode()
    is.foreach { i => val o = mapper.createObjectNode(); o.put("s", i.start); o.put("e", i.end); a.add(o) }
    a
  }
  private def intervalsOf(n: JsonNode): Vector[Interval] = {
    val b = Vector.newBuilder[Interval]
    n.forEach(x => b += Interval(x.path("s").asLong(), x.path("e").asLong()))
    b.result()
  }

  private def snapshotJson(s: Snapshot): ObjectNode = {
    val o = mapper.createObjectNode()
    o.set[JsonNode]("model", modelJson(s.model))
    val fp = o.putObject("fingerprint")
    fp.put("data", s.fingerprint.dataHash); fp.put("meta", s.fingerprint.metadataHash)
    fp.put("pdata", s.fingerprint.parentDataHash); fp.put("pmeta", s.fingerprint.parentMetadataHash)
    val ps = o.putArray("parents")
    s.parents.foreach { p => val po = mapper.createObjectNode(); po.put("name", p.name); po.put("id", p.identifier); ps.add(po) }
    o.set[JsonNode]("intervals", intervalsJson(s.intervals))
    o.set[JsonNode]("dev_intervals", intervalsJson(s.devIntervals))
    s.category.foreach(c => o.put("category", c.name))
    o.put("created_ts", s.createdTs)
    s.unpausedTs.foreach(o.put("unpaused_ts", _))
    s.forcedVersion.foreach(o.put("forced_version", _))
    o
  }

  private def snapshotFromJson(n: JsonNode): Snapshot = {
    val fp = n.path("fingerprint")
    val parents = {
      val b = Seq.newBuilder[SnapshotId]
      n.path("parents").forEach(p => b += SnapshotId(p.path("name").asText(), p.path("id").asText()))
      b.result()
    }
    Snapshot(
      model = modelFromJson(n.path("model")),
      fingerprint = SnapshotFingerprint(fp.path("data").asText(), fp.path("meta").asText(),
        fp.path("pdata").asText(), fp.path("pmeta").asText()),
      parents = parents,
      intervals = intervalsOf(n.path("intervals")),
      devIntervals = intervalsOf(n.path("dev_intervals")),
      category = Option(n.get("category")).map(_.asText()).map {
        case "BREAKING" => ChangeCategory.Breaking
        case "NON_BREAKING" => ChangeCategory.NonBreaking
        case "FORWARD_ONLY" => ChangeCategory.ForwardOnly
        case "METADATA" => ChangeCategory.Metadata
        case "INDIRECT_BREAKING" => ChangeCategory.IndirectBreaking
        case _ => ChangeCategory.IndirectNonBreaking
      },
      createdTs = n.path("created_ts").asLong(),
      unpausedTs = Option(n.get("unpaused_ts")).map(_.asLong()),
      forcedVersion = Option(n.get("forced_version")).map(_.asText()))
  }

  private def modelJson(m: Model): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", m.name)
    m.body match {
      case SqlBody(sql)  => o.put("body_type", "sql"); o.put("body", sql)
      case SeedBody(p)   => o.put("body_type", "seed"); o.put("body", p)
      case ScalaBody(fn) =>
        val key = scalaRegistry.collectFirst { case (k, f) if f eq fn => k }
          .getOrElse(fn.getClass.getName)
        o.put("body_type", "scala"); o.put("body", key)
    }
    o.set[JsonNode]("kind", kindJson(m.kind))
    o.put("cron", m.cron)
    m.cronTz.foreach(o.put("cron_tz", _))
    m.start.foreach(o.put("start", _))
    o.set[JsonNode]("depends_on", strArr(m.dependsOn.toSeq.sorted))
    o.set[JsonNode]("grains", strArr(m.grains))
    o.set[JsonNode]("references", strArr(m.entityReferences))
    val au = o.putArray("audits")
    m.audits.foreach { case (nm, args) =>
      val ao = mapper.createObjectNode(); ao.put("name", nm); putMap(ao, "args", args); au.add(ao)
    }
    m.description.foreach(o.put("description", _))
    m.owner.foreach(o.put("owner", _))
    o.set[JsonNode]("tags", strArr(m.tags))
    o.put("storage_format", m.storageFormat)
    o.set[JsonNode]("partitioned_by", strArr(m.partitionedBy))
    o.set[JsonNode]("clustered_by", strArr(m.clusteredBy))
    o.set[JsonNode]("pre", strArr(m.preStatements))
    o.set[JsonNode]("post", strArr(m.postStatements))
    o.set[JsonNode]("on_virtual_update", strArr(m.onVirtualUpdate))
    m.intervalUnitName.foreach(o.put("interval_unit", _))
    o.put("allow_partials", m.allowPartials)
    if (m.columns.nonEmpty) {
      val cols = o.putObject("columns")
      m.columns.foreach { case (c, t) => cols.put(c, t) }
    }
    o.put("on_destructive_change", m.onDestructiveChange)
    o.put("on_additive_change", m.onAdditiveChange)
    m.stamp.foreach(o.put("stamp", _))
    if (!m.enabled) o.put("enabled", false)
    if (m.ignoredRules.nonEmpty)
      o.set[JsonNode]("ignored_rules", strArr(m.ignoredRules.toSeq.sorted))
    if (m.physicalProperties.nonEmpty) putMap(o, "physical_properties", m.physicalProperties)
    if (m.sessionProperties.nonEmpty) putMap(o, "session_properties", m.sessionProperties)
    if (m.virtualProperties.nonEmpty) putMap(o, "virtual_properties", m.virtualProperties)
    o
  }

  private def modelFromJson(n: JsonNode): Model = {
    val body = n.path("body_type").asText() match {
      case "sql"  => SqlBody(n.path("body").asText())
      case "seed" => SeedBody(n.path("body").asText())
      case "scala" =>
        val key = n.path("body").asText()
        scalaRegistry.get(key).map(ScalaBody).getOrElse(
          ScalaBody((_, _, _, _) => throw new IllegalStateException(
            s"scala model body '$key' not registered with this FileStateStore")))
    }
    val audits = {
      val b = Seq.newBuilder[(String, Map[String, String])]
      n.path("audits").forEach(a => b += a.path("name").asText() -> mapOf(a.path("args")))
      b.result()
    }
    Model(
      name = n.path("name").asText(),
      body = body,
      kind = kindFromJson(n.path("kind")),
      cron = n.path("cron").asText(),
      cronTz = Option(n.get("cron_tz")).map(_.asText()),
      start = Option(n.get("start")).map(_.asLong()),
      dependsOn = seqOf(n.path("depends_on")).toSet,
      grains = seqOf(n.path("grains")),
      entityReferences = seqOf(n.path("references")),
      audits = audits,
      description = Option(n.get("description")).map(_.asText()),
      owner = Option(n.get("owner")).map(_.asText()),
      tags = seqOf(n.path("tags")),
      storageFormat = n.path("storage_format").asText(),
      partitionedBy = seqOf(n.path("partitioned_by")),
      clusteredBy = seqOf(n.path("clustered_by")),
      preStatements = seqOf(n.path("pre")),
      postStatements = seqOf(n.path("post")),
      onVirtualUpdate = seqOf(n.path("on_virtual_update")),
      intervalUnitName = Option(n.get("interval_unit")).map(_.asText()),
      allowPartials = n.path("allow_partials").asBoolean(),
      columns = {
        val b = Seq.newBuilder[(String, String)]
        n.path("columns").properties().forEach(e => b += e.getKey -> e.getValue.asText())
        b.result()
      },
      onAdditiveChange = Option(n.get("on_additive_change"))
        .map(_.asText).getOrElse("allow"),
      onDestructiveChange = Option(n.get("on_destructive_change"))
        .map(_.asText()).getOrElse("error"),
      stamp = Option(n.get("stamp")).map(_.asText()),
      enabled = Option(n.get("enabled")).forall(_.asBoolean()),
      ignoredRules = seqOf(n.path("ignored_rules")).toSet,
      physicalProperties = mapOf(n.path("physical_properties")),
      sessionProperties = mapOf(n.path("session_properties")),
      virtualProperties = mapOf(n.path("virtual_properties")))
  }

  private def kindJson(k: ModelKind): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", k.name)
    k match {
      case t: ModelKind.IncrementalByTimeRange =>
        o.put("time_column", t.timeColumn); o.put("time_format", t.timeFormat)
        t.batchSize.foreach(o.put("batch_size", _))
        t.batchConcurrency.foreach(o.put("batch_concurrency", _))
        o.put("lookback", t.lookback); o.put("forward_only", t.forwardOnly)
        o.put("partition_by_time", t.partitionByTime)
      case u: ModelKind.IncrementalByUniqueKey =>
        o.set[JsonNode]("unique_key", strArr(u.uniqueKey))
        putMap(o, "when_matched_update", u.whenMatchedUpdate)
        u.whenMatchedDelete.foreach(o.put("when_matched_delete", _))
        u.mergeFilter.foreach(o.put("merge_filter", _))
        if (u.buckets > 0) { o.put("buckets", u.buckets); () }
        u.autoRestatementCron.foreach(o.put("auto_restatement_cron", _))
      case p: ModelKind.IncrementalByPartition =>
        o.set[JsonNode]("partitioned_by", strArr(p.partitionedBy))
      case u: ModelKind.IncrementalUnmanaged => o.put("insert_overwrite", u.insertOverwrite)
      case s: ModelKind.ScdType2ByTime =>
        o.set[JsonNode]("unique_key", strArr(s.uniqueKey))
        o.put("updated_at_col", s.updatedAtCol); o.put("valid_from_col", s.validFromCol)
        o.put("valid_to_col", s.validToCol)
        o.put("updated_at_as_valid_from", s.updatedAtAsValidFrom)
        o.put("invalidate_hard_deletes", s.invalidateHardDeletes)
      case s: ModelKind.ScdType2ByColumn =>
        o.set[JsonNode]("unique_key", strArr(s.uniqueKey))
        o.set[JsonNode]("check_columns", strArr(s.checkColumns))
        o.put("valid_from_col", s.validFromCol); o.put("valid_to_col", s.validToCol)
        o.put("execution_time_as_valid_from", s.executionTimeAsValidFrom)
        o.put("invalidate_hard_deletes", s.invalidateHardDeletes)
      case s: ModelKind.Seed =>
        o.put("path", s.path); o.put("batch_size", s.batchSize)
        putMap(o, "options", s.options)
      case c: ModelKind.Custom =>
        o.put("strategy", c.strategyName); putMap(o, "properties", c.properties)
        c.autoRestatementCron.foreach(o.put("auto_restatement_cron", _))
      case m: ModelKind.Managed =>
        o.put("target_lag", m.targetLag); putMap(o, "properties", m.properties)
      case ModelKind.MaterializedView => o.put("materialized", true)
      case _ => ()
    }
    o
  }

  private def kindFromJson(n: JsonNode): ModelKind = n.path("name").asText() match {
    case "FULL" => ModelKind.Full
    case "VIEW" =>
      if (n.path("materialized").asBoolean()) ModelKind.MaterializedView else ModelKind.View
    case "EMBEDDED" => ModelKind.Embedded
    case "EXTERNAL" => ModelKind.External
    case "INCREMENTAL_BY_TIME_RANGE" => ModelKind.IncrementalByTimeRange(
      timeColumn = n.path("time_column").asText(),
      timeFormat = n.path("time_format").asText(),
      batchSize = Option(n.get("batch_size")).map(_.asInt()),
      batchConcurrency = Option(n.get("batch_concurrency")).map(_.asInt()),
      lookback = n.path("lookback").asInt(),
      forwardOnly = n.path("forward_only").asBoolean(),
      partitionByTime = n.path("partition_by_time").asBoolean())
    case "INCREMENTAL_BY_UNIQUE_KEY" => ModelKind.IncrementalByUniqueKey(
      uniqueKey = seqOf(n.path("unique_key")),
      whenMatchedUpdate = mapOf(n.path("when_matched_update")),
      whenMatchedDelete = Option(n.get("when_matched_delete")).map(_.asText()),
      mergeFilter = Option(n.get("merge_filter")).map(_.asText()),
      buckets = n.path("buckets").asInt(0),
      autoRestatementCron = Option(n.get("auto_restatement_cron")).map(_.asText()))
    case "INCREMENTAL_BY_PARTITION" =>
      ModelKind.IncrementalByPartition(seqOf(n.path("partitioned_by")))
    case "INCREMENTAL_UNMANAGED" =>
      ModelKind.IncrementalUnmanaged(n.path("insert_overwrite").asBoolean())
    case "SCD_TYPE_2_BY_TIME" => ModelKind.ScdType2ByTime(
      uniqueKey = seqOf(n.path("unique_key")),
      updatedAtCol = n.path("updated_at_col").asText(),
      validFromCol = n.path("valid_from_col").asText(),
      validToCol = n.path("valid_to_col").asText(),
      updatedAtAsValidFrom = n.path("updated_at_as_valid_from").asBoolean(),
      invalidateHardDeletes = n.path("invalidate_hard_deletes").asBoolean())
    case "SCD_TYPE_2_BY_COLUMN" => ModelKind.ScdType2ByColumn(
      uniqueKey = seqOf(n.path("unique_key")),
      checkColumns = seqOf(n.path("check_columns")),
      validFromCol = n.path("valid_from_col").asText(),
      validToCol = n.path("valid_to_col").asText(),
      executionTimeAsValidFrom = n.path("execution_time_as_valid_from").asBoolean(),
      invalidateHardDeletes = n.path("invalidate_hard_deletes").asBoolean())
    case "SEED" => ModelKind.Seed(n.path("path").asText(), n.path("batch_size").asInt(),
      mapOf(n.path("options")))
    case "CUSTOM" => ModelKind.Custom(n.path("strategy").asText(), mapOf(n.path("properties")),
      Option(n.get("auto_restatement_cron")).map(_.asText()))
    case "MANAGED" => ModelKind.Managed(n.path("target_lag").asText(),
      mapOf(n.path("properties")))
    case other => throw new IllegalArgumentException(s"unknown kind in state file: $other")
  }
}

object FileStateStore {
  /** Current state-file schema version (reference `_versions` table,
    * state_sync/db/version.py:27). */
  val SchemaVersion = 2

  /** Delta-log records before a flush compacts into a full image rewrite
    * (~100 bytes/record → the log stays a few MB; load replay stays cheap). */
  val DeltaCompactBound = 50000

  /** txn of the last line that parses as a JSON record carrying a "txn"
    * field — the exact set of lines load-replay applies. Shared by the
    * append-capable blobs' O(1) tail check; records average ~100 B so a
    * 4 KB tail holds tens of them. */
  private val txnMapper = new ObjectMapper() // thread-safe once configured
  private[state] def lastParsedTxn(s: String): Option[Long] = {
    s.linesIterator.toSeq.reverseIterator.flatMap { line =>
      try {
        val n = txnMapper.readTree(line)
        if (n != null && n.has("txn")) Some(n.path("txn").asLong()) else None
      } catch { case _: Exception => None }
    }.nextOption()
  }

  /** Byte-level storage for the state image: local filesystem, or any
    * Hadoop-supported shared store when `dir` carries a URI scheme. */
  private[state] trait Blob {
    def exists: Boolean
    def readAll(): Array[Byte]
    /** write-temp + rename so readers never observe a torn file */
    def writeAtomic(bytes: Array[Byte]): Unit
    /** The persisted txn counter WITHOUT decoding the whole image: `txn` is
      * serialized in the first bytes of the file (field order is fixed), so
      * the optimistic-concurrency check is O(1), not O(state) — at thousands
      * of snapshots the old full readAll-per-persist dominated persist cost. */
    def readTxn(): Long = {
      val head = new String(readHead(256), "UTF-8")
      "\"txn\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(head)
        .map(_.group(1).toLong).getOrElse(0L)
    }
    protected def readHead(n: Int): Array[Byte]
    /** Serialize the check-then-write critical section against OTHER
      * PROCESSES where the filesystem can (OS file lock locally); stores
      * that can't lock fall back to the optimistic check alone. */
    def withLock[A](f: => A): A = f
    // ---- interval delta log (the hot-path append channel; see persistNow).
    // Backends that can't append atomically keep the default (full-image
    // rewrites only): HadoopBlob stays image-only because object stores
    // (s3a et al.) have no append.
    def deltaSupported: Boolean = false
    /** Append one flush's worth of newline-terminated JSON records. */
    def appendDelta(bytes: Array[Byte]): Unit =
      throw new UnsupportedOperationException("delta log unsupported")
    def readDeltaAll(): Array[Byte] = Array.emptyByteArray
    def clearDelta(): Unit = ()
    /** txn of the last durable delta flush, None when the log is empty.
      * O(log size), which compaction bounds. */
    def readLastDeltaTxn(): Option[Long] = None
    /** Copy the current image to the store's backup slot (the reference
      * migrator's pre-migration backup tables, state_sync/db/migrator.py). */
    def backup(): Unit
    /** Restore the backup slot over the live image; false when no backup
      * exists. */
    def restoreBackup(): Boolean
  }

  private[state] object LocalBlob {
    /** One monitor per state dir: FileChannel.lock does not block against
      * another channel in the same JVM — it throws — so intra-process
      * serialization has to happen before the OS lock is taken. */
    private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  }

  private[state] final class LocalBlob(dir: String) extends Blob {
    private val file = Paths.get(dir, "state.json")
    Files.createDirectories(Paths.get(dir))
    def exists: Boolean = Files.exists(file)
    def readAll(): Array[Byte] = Files.readAllBytes(file)
    protected def readHead(n: Int): Array[Byte] = {
      val in = Files.newByteChannel(file)
      try {
        val buf = java.nio.ByteBuffer.allocate(n)
        // loop: a single read() may return short of n before EOF, and a
        // short head that misses the txn field would make readTxn() return 0
        // and persist() throw a spurious concurrent-modification error
        var r = in.read(buf)
        while (r >= 0 && buf.hasRemaining) r = in.read(buf)
        java.util.Arrays.copyOf(buf.array(), buf.position())
      } finally in.close()
    }
    /** OS-level lock closes the check-then-rename TOCTOU window between
      * processes sharing this state dir. Within ONE JVM, FileChannel.lock
      * throws OverlappingFileLockException instead of blocking, so same-dir
      * callers serialize on a JVM-wide monitor first; if the OS lock still
      * overlaps (held elsewhere in-process outside the monitor), fall back
      * to the optimistic txn check alone rather than crashing. */
    override def withLock[A](f: => A): A = {
      val mon = LocalBlob.monitors.computeIfAbsent(
        Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
      mon.synchronized {
        val ch = java.nio.channels.FileChannel.open(Paths.get(dir, "state.lock"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try {
          try { val l = ch.lock(); try f finally l.release() }
          catch { case _: java.nio.channels.OverlappingFileLockException => f }
        } finally ch.close()
      }
    }
    def writeAtomic(bytes: Array[Byte]): Unit = {
      val tmp = Paths.get(dir, "state.json.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    private val bak = Paths.get(dir, "state.json.bak")
    def backup(): Unit = {
      Files.copy(file, bak, StandardCopyOption.REPLACE_EXISTING); ()
    }
    def restoreBackup(): Boolean =
      Files.exists(bak) && { writeAtomic(Files.readAllBytes(bak)); true }

    private val delta = Paths.get(dir, "state.delta.jsonl")
    override def deltaSupported: Boolean = true
    override def appendDelta(bytes: Array[Byte]): Unit = {
      // a crash mid-append leaves a torn, newline-less tail; the next append
      // must start on a fresh line or it would concatenate into the fragment
      // and corrupt ITS OWN first record too
      val needsNl = Files.exists(delta) && Files.size(delta) > 0 && {
        val ch = Files.newByteChannel(delta)
        try {
          ch.position(ch.size() - 1)
          val b = java.nio.ByteBuffer.allocate(1)
          ch.read(b); b.array()(0) != '\n'.toByte
        } finally ch.close()
      }
      val payload = if (needsNl) ('\n'.toByte +: bytes) else bytes
      Files.write(delta, payload, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    override def readDeltaAll(): Array[Byte] =
      if (Files.exists(delta)) Files.readAllBytes(delta) else Array.emptyByteArray
    override def clearDelta(): Unit = { Files.deleteIfExists(delta); () }
    override def readLastDeltaTxn(): Option[Long] = {
      // the per-flush optimistic check must stay O(1), not O(log): read a
      // fixed tail (records are ~100 B, the tail holds tens of them) and
      // take the last txn in it; an empty tail match on a non-empty file
      // can only mean torn garbage at the end — fall back to the full read
      if (!Files.exists(delta) || Files.size(delta) == 0) return None
      val size = Files.size(delta)
      val tailLen = math.min(size, 4096L).toInt
      val ch = Files.newByteChannel(delta)
      val tail = try {
        ch.position(size - tailLen)
        val buf = java.nio.ByteBuffer.allocate(tailLen)
        var r = ch.read(buf)
        while (r >= 0 && buf.hasRemaining) r = ch.read(buf)
        new String(buf.array(), 0, buf.position(), "UTF-8")
      } finally ch.close()
      // "complete record" must mean exactly what load-replay means by it —
      // a PARSEABLE line — or crash recovery wedges the store: a tear
      // inside the txn field (the last field serialized) leaves a fragment
      // like `..."txn": 12` whose regex-extracted 12 is a digit-truncated
      // 123; replay skips the unparseable fragment, so a raw-regex read
      // here would disagree with the replayed in-memory txn forever and
      // every persist would throw ConcurrentModificationException. Walk
      // lines back-to-front and take the first that parses with a txn —
      // the same records replay applies, no more, no less. (A front-cut
      // first tail line never parses; the fallback rereads the whole log.)
      lastParsedTxn(tail).orElse(
        lastParsedTxn(new String(readDeltaAll(), "UTF-8")))
    }
  }

  /** Shared-storage state (hdfs://, s3a://, file://): the cluster story —
    * any driver (or a failover driver) resumes the same state. Rename is
    * atomic on HDFS; FileContext.rename(OVERWRITE) provides the
    * replace-existing semantics java.nio gives locally. */
  private[state] final class HadoopBlob(dir: String) extends Blob {
    import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
    private val conf = new org.apache.hadoop.conf.Configuration()
    private val root = new HPath(dir)
    private val fc = FileContext.getFileContext(root.toUri, conf)
    private val file = new HPath(root, "state.json")
    fc.mkdir(root, org.apache.hadoop.fs.permission.FsPermission.getDirDefault, true)
    def exists: Boolean = fc.util.exists(file)
    def readAll(): Array[Byte] = {
      val in = fc.open(file)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    }
    protected def readHead(n: Int): Array[Byte] = {
      val in = fc.open(file)
      try {
        val buf = new Array[Byte](n)
        var off = 0
        var r = in.read(buf, 0, n)
        while (r > 0 && off + r < n) { off += r; r = in.read(buf, off, n - off) }
        java.util.Arrays.copyOf(buf, math.max(off + math.max(r, 0), 0))
      } finally in.close()
    }
    def writeAtomic(bytes: Array[Byte]): Unit = {
      val tmp = new HPath(root, "state.json.tmp")
      val out = fc.create(tmp, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(bytes) finally out.close()
      fc.rename(tmp, file, Options.Rename.OVERWRITE)
    }
    private val bak = new HPath(root, "state.json.bak")
    def backup(): Unit = {
      val out = fc.create(bak, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE, org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(readAll()) finally out.close()
    }
    def restoreBackup(): Boolean = fc.util.exists(bak) && {
      val in = fc.open(bak)
      val bytes = try {
        val o = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { o.write(buf, 0, n); n = in.read(buf) }
        o.toByteArray
      } finally in.close()
      writeAtomic(bytes); true
    }
  }

  /** Database-backed state (reference sqlmesh/core/state_sync/db): pass a
    * `jdbc:` URL as the state dir and the image persists in a
    * `GRAFT_STATE(id, txn, body)` row instead of a file. This is the
    * multi-driver production story the file store can't give: the
    * check-then-write critical section runs inside ONE database transaction
    * holding a `SELECT … FOR UPDATE` row lock, so two schedulers on
    * DIFFERENT hosts serialize through the database (Postgres/MySQL/Derby
    * network server; embedded Derby remains single-process by Derby's own
    * rules). The optimistic txn counter is also materialized in the TXN
    * column so the staleness check is one indexed read, never a body fetch.
    * Works with any JDBC 4 driver on the classpath (Derby ships with Spark).
    */
  private[state] final class JdbcBlob(url: String) extends Blob {
    import java.sql.{Connection, DriverManager}

    private def connect(): Connection = DriverManager.getConnection(url)

    // one row holds the image; created on first touch. Derby has no
    // CREATE TABLE IF NOT EXISTS — the duplicate-table error is the signal.
    locally {
      val c = connect()
      try {
        try {
          val st = c.createStatement()
          st.execute("CREATE TABLE GRAFT_STATE (ID INT PRIMARY KEY, TXN BIGINT, BODY BLOB)")
          st.close()
        } catch { case e: java.sql.SQLException if tableExists(e) => () }
        try {
          val st = c.createStatement()
          st.execute("CREATE TABLE GRAFT_STATE_DELTA (" +
            "SEQ BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, " +
            "TXN BIGINT, LINE VARCHAR(32000))")
          st.close()
        } catch { case e: java.sql.SQLException if tableExists(e) => () }
        val has = {
          val st = c.createStatement()
          val rs = st.executeQuery("SELECT COUNT(*) FROM GRAFT_STATE WHERE ID = 1")
          rs.next(); val n = rs.getLong(1); rs.close(); st.close(); n > 0
        }
        if (!has) {
          val ps = c.prepareStatement("INSERT INTO GRAFT_STATE (ID, TXN, BODY) VALUES (1, 0, NULL)")
          try { ps.executeUpdate(); () }
          catch { case _: java.sql.SQLException => () } // lost the init race: fine
          finally ps.close()
        }
      } finally c.close()
    }

    private def tableExists(e: java.sql.SQLException): Boolean =
      // Derby X0Y32 = object already exists; standard 42S01 elsewhere
      e.getSQLState == "X0Y32" || e.getSQLState == "42S01" ||
        Option(e.getMessage).exists(_.toLowerCase.contains("already exists"))

    /** The connection holding the row lock for the current withLock scope;
      * reads/writes inside the scope MUST reuse it or they'd deadlock
      * against their own lock. */
    private val lockConn = new ThreadLocal[Connection]

    private def withConn[A](f: Connection => A): A =
      Option(lockConn.get) match {
        case Some(c) => f(c)
        case None => val c = connect(); try f(c) finally c.close()
      }

    def exists: Boolean = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT BODY FROM GRAFT_STATE WHERE ID = 1")
      val r = rs.next() && rs.getBytes(1) != null
      rs.close(); st.close(); r
    }

    def readAll(): Array[Byte] = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT BODY FROM GRAFT_STATE WHERE ID = 1")
      val r = if (rs.next()) rs.getBytes(1) else null
      rs.close(); st.close()
      if (r == null) throw new java.io.FileNotFoundException(s"no state at $url")
      r
    }

    protected def readHead(n: Int): Array[Byte] = readAll().take(n)

    /** O(1): the txn counter lives in its own column. */
    override def readTxn(): Long = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT TXN FROM GRAFT_STATE WHERE ID = 1")
      val r = if (rs.next()) rs.getLong(1) else 0L
      rs.close(); st.close(); r
    }

    def writeAtomic(bytes: Array[Byte]): Unit = withConn { c =>
      // mirror the file layout's head-embedded counter into the TXN column
      val head = new String(bytes.take(256), "UTF-8")
      val txnVal = "\"txn\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(head)
        .map(_.group(1).toLong).getOrElse(0L)
      val ps = c.prepareStatement("UPDATE GRAFT_STATE SET TXN = ?, BODY = ? WHERE ID = 1")
      ps.setLong(1, txnVal); ps.setBytes(2, bytes)
      ps.executeUpdate(); ps.close()
    }

    /** Backup slot = row ID 2 of the same table. */
    def backup(): Unit = withConn { c =>
      val st = c.createStatement()
      st.executeUpdate("DELETE FROM GRAFT_STATE WHERE ID = 2")
      st.executeUpdate(
        "INSERT INTO GRAFT_STATE (ID, TXN, BODY) SELECT 2, TXN, BODY FROM GRAFT_STATE WHERE ID = 1")
      st.close()
    }
    def restoreBackup(): Boolean = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT TXN, BODY FROM GRAFT_STATE WHERE ID = 2")
      val r = if (rs.next()) Some(rs.getLong(1) -> rs.getBytes(2)) else None
      rs.close(); st.close()
      r.exists { case (t, body) =>
        val ps = c.prepareStatement("UPDATE GRAFT_STATE SET TXN = ?, BODY = ? WHERE ID = 1")
        ps.setLong(1, t); ps.setBytes(2, body)
        ps.executeUpdate(); ps.close(); true
      }
    }

    override def deltaSupported: Boolean = true
    override def appendDelta(bytes: Array[Byte]): Unit = withConn { c =>
      val ps = c.prepareStatement(
        "INSERT INTO GRAFT_STATE_DELTA (TXN, LINE) VALUES (?, ?)")
      try new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty).foreach { ln =>
        val t = "\"txn\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(ln)
          .map(_.group(1).toLong).getOrElse(0L)
        ps.setLong(1, t); ps.setString(2, ln); ps.executeUpdate(); ()
      } finally ps.close()
    }
    override def readDeltaAll(): Array[Byte] = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT LINE FROM GRAFT_STATE_DELTA ORDER BY SEQ")
      val sb = new StringBuilder
      while (rs.next()) { sb.append(rs.getString(1)).append('\n') }
      rs.close(); st.close()
      sb.toString.getBytes("UTF-8")
    }
    override def clearDelta(): Unit = withConn { c =>
      val st = c.createStatement()
      st.executeUpdate("DELETE FROM GRAFT_STATE_DELTA"); st.close()
    }
    override def readLastDeltaTxn(): Option[Long] = withConn { c =>
      val st = c.createStatement()
      val rs = st.executeQuery("SELECT MAX(TXN) FROM GRAFT_STATE_DELTA")
      val r = if (rs.next()) { val v = rs.getLong(1); if (rs.wasNull()) None else Some(v) }
              else None
      rs.close(); st.close(); r
    }

    /** The whole check-then-write runs in one DB transaction under a row
      * lock — the database IS the mutex, across hosts. A lock the database
      * gives up on (Derby `40XL1` wait timeout, `40001` deadlock) means
      * another writer holds the state: it surfaces as the same
      * [[java.util.ConcurrentModificationException]] as a stale txn, so the
      * caller's reload-and-retry covers both. */
    override def withLock[A](f: => A): A = {
      val c = connect()
      try {
        c.setAutoCommit(false)
        val st = c.createStatement(java.sql.ResultSet.TYPE_FORWARD_ONLY,
          java.sql.ResultSet.CONCUR_UPDATABLE)
        val rs = st.executeQuery("SELECT ID FROM GRAFT_STATE WHERE ID = 1 FOR UPDATE")
        rs.next(); rs.close(); st.close()
        lockConn.set(c)
        try { val r = f; c.commit(); r }
        catch { case e: Throwable => c.rollback(); throw e }
        finally lockConn.remove()
      } catch {
        case e: java.sql.SQLTransactionRollbackException =>
          throw new java.util.ConcurrentModificationException(
            s"state row is locked by another writer: ${e.getMessage}", e)
      } finally c.close()
    }
  }

  /** migrations(k) upgrades version k → k+1 (migrator.py ordered scripts).
    * v1 → v2: environments gained per-model `identifiers` (full-fingerprint
    * pointers that let plans diff against the exact promoted snapshot) and
    * the top-level `auto_restatements` table — both default to empty. */
  val migrations: Map[Int, (ObjectNode, ObjectMapper) => Unit] = Map(
    1 -> { (root, mapper) =>
      root.path("environments").forEach { e =>
        val o = e.asInstanceOf[ObjectNode]
        if (!o.has("identifiers")) { o.putObject("identifiers"); () }
      }
      if (!root.has("auto_restatements")) { root.putObject("auto_restatements"); () }
    })
}
