package graft.core

import java.security.MessageDigest

/** Change categorization — reference enum snapshot/definition.py:68. */
sealed abstract class ChangeCategory(val name: String)
object ChangeCategory {
  case object Breaking         extends ChangeCategory("BREAKING")
  case object NonBreaking      extends ChangeCategory("NON_BREAKING")
  case object ForwardOnly      extends ChangeCategory("FORWARD_ONLY")
  case object Metadata         extends ChangeCategory("METADATA")
  case object IndirectBreaking extends ChangeCategory("INDIRECT_BREAKING")
  case object IndirectNonBreaking extends ChangeCategory("INDIRECT_NON_BREAKING")
}

/** data_hash + metadata_hash (+ recursive parent hashes) — the reference's
  * SnapshotFingerprint (snapshot/definition.py:116, fingerprint_from_node :1861).
  * Stability across runs is what decides table reuse vs rebuild, so hashing is
  * over a canonicalized text form (whitespace/comment-normalized SQL + sorted
  * metadata), never over Scala object identity.
  */
final case class SnapshotFingerprint(
    dataHash: String,
    metadataHash: String,
    parentDataHash: String,
    parentMetadataHash: String) {
  /** version identity: data-affecting parts only (definition.py `to_version`) */
  lazy val version: String = Fingerprint.md5Short(s"$dataHash;$parentDataHash")
  lazy val full: String =
    Fingerprint.md5Short(s"$dataHash;$metadataHash;$parentDataHash;$parentMetadataHash")
}

object Fingerprint {
  /** Total fingerprints computed (specs pin lint's and re-plans' cost). */
  val computed = new java.util.concurrent.atomic.AtomicLong

  private val hexDigits = "0123456789abcdef".toCharArray

  /** The first 8 bytes of the MD5 of `s`, as 16 lowercase hex digits. */
  def md5Short(s: String): String = {
    val digest = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = hexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(digest(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val whitespace = java.util.regex.Pattern.compile("\\s+")

  /** Canonicalize SQL text for hashing: strip comments, collapse whitespace,
    * lowercase outside string literals. A stable canonical printer is fingerprint
    * correctness (SURVEY §7 hard part b). One scan: a comment opener inside
    * a string literal is text, and so is an unclosed block comment. */
  def canonicalSql(sql: String): String = {
    val sb = new java.lang.StringBuilder(sql.length)
    var inStr = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val blockEnd = if (!inStr && sql.startsWith("/*", i)) sql.indexOf("*/", i + 2) else -1
      if (c == '\'') { inStr = !inStr; sb.append(c); i += 1 }
      else if (inStr) { sb.append(c); i += 1 }
      else if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        sb.append(' '); i = if (nl < 0) sql.length else nl
      } else if (blockEnd >= 0) { sb.append(' '); i = blockEnd + 2 }
      else { sb.append(c.toLower); i += 1 }
    }
    whitespace.matcher(sb).replaceAll(" ").trim
  }

  /** Mirrors fingerprint_from_node: data hash from rendered body + kind data
    * fields; metadata hash from the rest; parent hashes folded in recursively. */
  def of(model: Model, renderedBody: String, parents: Seq[SnapshotFingerprint]): SnapshotFingerprint = {
    computed.incrementAndGet()
    val dataParts = Seq(canonicalSql(renderedBody), model.name, model.storageFormat,
      model.intervalUnitName.getOrElse(""),
      model.stamp.getOrElse("")) ++ // stamp busts the data hash (definition.py:1135)
      model.kind.dataFields ++ model.partitionedBy ++ model.clusteredBy ++
      model.columns.map { case (c, t) => s"$c:${t.toLowerCase}" } ++
      model.physicalProperties.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++ // definition.py:1148
      model.preStatements.map(canonicalSql) ++ model.postStatements.map(canonicalSql)
    val metaParts = Seq(model.cron, model.cronTz.getOrElse(""),
      model.owner.getOrElse(""), model.description.getOrElse("")) ++
      model.sessionProperties.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
      model.virtualProperties.toSeq.sorted.map { case (k, v) => s"$k=$v" } ++
      model.tags ++ model.grains ++
      model.audits.map { case (n, args) => n + args.toSeq.sorted.mkString(",") } ++
      model.onVirtualUpdate.map(canonicalSql) // metadata, not data (definition.py:2620)
    // TRANSITIVE parent folding (reference definition.py:1861
    // fingerprint_from_node): parent_data_hash hashes each parent's
    // to_version() — which already folds THAT parent's own parents — so an
    // edit anywhere upstream re-versions the entire downstream cone.
    // Hashing only the parents' own dataHash (the pre-r13 bug, caught by
    // the 10k-model probe's 1-edit cascade check) stopped the cascade at
    // depth 1: grandchildren kept their versions and never migrated.
    val sortedParents = parents.sortBy(_.version)
    SnapshotFingerprint(
      dataHash = md5Short(dataParts.mkString("\u0000")),
      metadataHash = md5Short(metaParts.mkString("\u0000")),
      parentDataHash = md5Short(sortedParents.map(_.version).mkString(",")),
      parentMetadataHash = md5Short(sortedParents
        .flatMap(p => Seq(p.metadataHash, p.parentMetadataHash))
        .sorted.mkString(",")))
  }
}

final case class SnapshotId(name: String, identifier: String)

/** Immutable versioned instance of a model (snapshot/definition.py).
  * One physical table per `version`; `intervals` records processed time ranges. */
final case class Snapshot(
    model: Model,
    fingerprint: SnapshotFingerprint,
    parents: Seq[SnapshotId] = Nil,
    intervals: Vector[Interval] = Vector.empty,
    devIntervals: Vector[Interval] = Vector.empty,
    category: Option[ChangeCategory] = None,
    createdTs: Long = 0L,
    unpausedTs: Option[Long] = None,
    /** forward-only changes pin the PREVIOUS version so the physical table is
      * reused and migrated in place (reference: Snapshot.version returning
      * previous_versions for forward-only, snapshot/definition.py). */
    forcedVersion: Option[String] = None) {

  def id: SnapshotId = SnapshotId(model.name, fingerprint.full)
  def version: String = forcedVersion.getOrElse(fingerprint.version)

  def addInterval(i: Interval): Snapshot =
    copy(intervals = IntervalAlgebra.merge(intervals :+ i))
  def removeInterval(i: Interval): Snapshot =
    copy(intervals = IntervalAlgebra.remove(intervals, i))

  def missingIntervals(start: Long, end: Long, dev: Boolean = false): Vector[Interval] = {
    val unit = model.intervalUnit
    // only whole units that have fully elapsed are runnable (reference:
    // missing_intervals end-bounding, scheduler.py:1022) — unless the model
    // allows partials, in which case the trailing fraction is runnable too
    val alignedStart = unit.floor(math.max(start, model.start.getOrElse(start)))
    val alignedEnd   = if (model.allowPartials) end else unit.floor(end)
    // dev previews fill a fresh __dev table, so their progress is tracked
    // against devIntervals, not the shared table's intervals
    val processed = if (dev) devIntervals else intervals
    val raw = IntervalAlgebra.missing(alignedStart, alignedEnd, processed)
    // lookback (kind.py:388): each missing interval drags the preceding N
    // units back into scope so late-arriving data is reprocessed
    // (reference snapshot/definition.py missing_intervals lookback handling)
    val lookback = model.kind match {
      case k: ModelKind.IncrementalByTimeRange => k.lookback
      case _ => 0
    }
    val expanded =
      if (lookback <= 0 || raw.isEmpty) raw
      else IntervalAlgebra.merge(raw.map(i =>
        Interval(math.max(alignedStart, unit.add(unit.floor(i.start), -lookback)), i.end)))
    expanded.flatMap(IntervalAlgebra.expand(_, unit, keepPartial = model.allowPartials))
  }
}

/** Which snapshots may be deployed to prod representations vs dev-only preview
  * (snapshot/definition.py:1568 DeployabilityIndex). Forward-only changes and
  * their downstream dependents are not deployable from dev plans. */
final case class DeployabilityIndex(nonDeployable: Set[String]) {
  def isDeployable(s: Snapshot): Boolean = !nonDeployable.contains(s.model.name)
}
object DeployabilityIndex {
  val allDeployable: DeployabilityIndex = DeployabilityIndex(Set.empty)
  def of(snapshots: Seq[Snapshot], dag: ModelDag): DeployabilityIndex =
    DeployabilityIndex(dag.downstream(snapshots
      .filter(_.category.contains(ChangeCategory.ForwardOnly)).map(_.model.name).toSet))
}
