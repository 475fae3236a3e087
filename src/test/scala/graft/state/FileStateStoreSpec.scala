package graft.state

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core._

/** Backend-agnostic contract for the durable state store: every test runs
  * against BOTH the file backend and the JDBC (Derby) backend via the
  * concrete subclasses below — same codec, same optimistic-txn semantics,
  * different transport. */
abstract class StateStoreContractSpec extends AnyFunSuite {

  /** A fresh, isolated state location (a directory or a jdbc: URL). */
  protected def stateDir(tag: String): String
  protected def backend: String

  private def mkSnapshot(name: String, body: String, kind: ModelKind,
                         intervals: Vector[Interval] = Vector.empty): Snapshot = {
    val m = Model(name, SqlBody(body), kind = kind, cron = "@daily",
      start = Some(0L), grains = Seq("id"),
      audits = Seq("not_null" -> Map("columns" -> "id")),
      owner = Some("tests"), tags = Seq("t1"), partitionedBy = Seq("d"))
    Snapshot(m, Fingerprint.of(m, body, Nil), intervals = intervals,
      category = Some(ChangeCategory.Breaking), createdTs = 42L)
  }

  test(s"[$backend] snapshot round-trip survives a new store instance over the same dir") {
    val dir = stateDir("state")
    val s1 = new FileStateStore(dir)
    val snap = mkSnapshot("mart.a", "SELECT 1 AS id", ModelKind.IncrementalByTimeRange(
      timeColumn = "d", timeFormat = "date", batchSize = Some(5), lookback = 2),
      intervals = Vector(Interval(0L, 86400000L)))
    s1.pushSnapshot(snap)
    s1.addInterval("mart.a", snap.version, Interval(86400000L, 2 * 86400000L))
    s1.promoteEnvironment(EnvironmentRecord("prod", Map("mart.a" -> snap.version)))
    s1.finalizeEnvironment("prod")

    val s2 = new FileStateStore(dir)
    val loaded = s2.getSnapshot("mart.a", snap.version).get
    assert(loaded.model == snap.model)
    assert(loaded.fingerprint == snap.fingerprint)
    assert(loaded.version == snap.version)
    // the two adjacent day intervals were compacted into one
    assert(loaded.intervals == Vector(Interval(0L, 2 * 86400000L)))
    assert(loaded.category.contains(ChangeCategory.Breaking))
    val env = s2.getEnvironment("prod").get
    assert(env.snapshots == Map("mart.a" -> snap.version) && env.finalized)
  }

  test(s"[$backend] all model kinds round-trip with their data fields") {
    val dir = stateDir("state_k")
    val kinds: Seq[ModelKind] = Seq(
      ModelKind.Full, ModelKind.View, ModelKind.MaterializedView,
      ModelKind.Embedded, ModelKind.External,
      ModelKind.IncrementalByTimeRange("ts", "epoch", Some(3), Some(2), 1, forwardOnly = true),
      ModelKind.IncrementalByUniqueKey(Seq("k1", "k2"), Map("a" -> "b"), Some("x > 1")),
      ModelKind.IncrementalByPartition(Seq("p")),
      ModelKind.IncrementalUnmanaged(insertOverwrite = true),
      ModelKind.ScdType2ByTime(Seq("id"), "upd", "vf", "vt",
        updatedAtAsValidFrom = true, invalidateHardDeletes = false),
      ModelKind.ScdType2ByColumn(Seq("id"), Seq("*"), "vf", "vt",
        executionTimeAsValidFrom = true),
      ModelKind.Seed("/tmp/x.csv", 500),
      ModelKind.Custom("strat", Map("p" -> "v")),
      ModelKind.Managed("10 minutes", Map("warehouse" -> "xl")))
    val s1 = new FileStateStore(dir)
    kinds.zipWithIndex.foreach { case (k, i) =>
      s1.pushSnapshot(mkSnapshot(s"mart.k$i", s"SELECT $i AS id", k))
    }
    val s2 = new FileStateStore(dir)
    kinds.zipWithIndex.foreach { case (k, i) =>
      assert(s2.latestSnapshot(s"mart.k$i").get.model.kind == k, s"kind $k")
    }
  }

  test(s"[$backend] concurrent writers are detected, not silently clobbered") {
    val dir = stateDir("state_cc")
    val s1 = new FileStateStore(dir)
    s1.pushSnapshot(mkSnapshot("mart.cc", "SELECT 1 AS id", ModelKind.Full))
    // a second writer opens the same dir and advances the file…
    val s2 = new FileStateStore(dir)
    s2.pushSnapshot(mkSnapshot("mart.cc2", "SELECT 2 AS id", ModelKind.Full))
    // …so the first instance's next write must refuse (lost-update guard)
    intercept[java.util.ConcurrentModificationException] {
      s1.pushSnapshot(mkSnapshot("mart.cc3", "SELECT 3 AS id", ModelKind.Full))
    }
    // s2's write survived; a fresh reader sees both committed snapshots
    val s3 = new FileStateStore(dir)
    assert(s3.latestSnapshot("mart.cc").nonEmpty && s3.latestSnapshot("mart.cc2").nonEmpty)
    assert(s3.latestSnapshot("mart.cc3").isEmpty)
  }

  test(s"[$backend] two stores in ONE JVM persist concurrently without lock crashes") {
    // ADVICE r05: FileChannel.lock throws OverlappingFileLockException (it
    // does not block) against another channel in the same JVM — same-dir
    // stores must serialize on a process-wide monitor instead of crashing.
    // For the JDBC backend the database row lock is the serializer.
    val dir = stateDir("state_jvm")
    import java.util.concurrent.{CountDownLatch, ConcurrentLinkedQueue}
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        start.await()
        val s = new FileStateStore(dir)
        (0 until 5).foreach { j =>
          try s.pushSnapshot(mkSnapshot(s"mart.j${i}_$j", s"SELECT $i AS id", ModelKind.Full))
          catch {
            case _: java.util.ConcurrentModificationException => // expected optimistic loser
            case t: Throwable => errors.add(t)
          }
        }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"unexpected crash: ${Option(errors.peek())}")
    // at least the winners' snapshots are durably readable
    val reader = new FileStateStore(dir)
    assert((0 until 8).exists(i => reader.latestSnapshot(s"mart.j${i}_0").nonEmpty))
  }

  test(s"[$backend] two concurrent appliers: interval writes serialize, none silently lost") {
    // the r13-verdict gap: the row-lock/file-lock transports existed but no
    // test proved two concurrent APPLIERS can't interleave interval writes.
    // Two threads, each its OWN store instance over the same location (two
    // schedulers), interleave 40 single-day adds on ONE snapshot — every
    // add is a read-modify-write of the same interval set, and adjacent
    // days force the merge/compaction path to run concurrently with the
    // other applier's writes. The transport contract under test: the
    // check-then-write critical section (OS file lock / SELECT FOR UPDATE
    // row lock) makes each write atomic, a stale instance gets
    // ConcurrentModificationException — never a torn or clobbered log —
    // and the documented recovery is reload-and-retry. A lost update
    // surfaces as a missing day, i.e. anything but one fully-merged range.
    val dir = stateDir("state_ivcc")
    val day = 86400000L
    val s0 = new FileStateStore(dir)
    val snap = mkSnapshot("mart.iv", "SELECT 1 AS id", ModelKind.Full)
    s0.pushSnapshot(snap)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        start.await()
        var s = new FileStateStore(dir)
        var j = t
        var spins = 0
        while (j < 40 && spins < 10000) {
          try {
            s.addInterval("mart.iv", snap.version, Interval(j * day, (j + 1) * day))
            j += 2
          } catch {
            case _: java.util.ConcurrentModificationException =>
              // optimistic loser: reload the advanced state, re-apply the
              // SAME interval — the accepted writes it just read stay intact
              spins += 1; s = new FileStateStore(dir)
            case other: Throwable => errors.add(other); j += 2
          }
        }
        if (j < 40) errors.add(new IllegalStateException(s"applier $t livelocked"))
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"unexpected crash: ${Option(errors.peek())}")
    // every accepted write survived and the merges compacted exactly:
    // 40 adjacent days from two interleaved appliers = ONE interval
    val reader = new FileStateStore(dir)
    assert(reader.getSnapshot("mart.iv", snap.version).get.intervals ==
      Vector(Interval(0L, 40 * day)))
  }

  test(s"[$backend] interval removal persists (restatement)") {
    val dir = stateDir("state_r")
    val s1 = new FileStateStore(dir)
    val snap = mkSnapshot("mart.r", "SELECT 1 AS id", ModelKind.Full,
      intervals = Vector(Interval(0L, 10L)))
    s1.pushSnapshot(snap)
    s1.removeInterval("mart.r", snap.version, Interval(3L, 5L))
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.r", snap.version).get.intervals ==
      Vector(Interval(0L, 3L), Interval(5L, 10L)))
  }

  test(s"[$backend] scala bodies resolve through the registry") {
    val dir = stateDir("state_sc")
    val fn: (org.apache.spark.sql.SparkSession, Map[String, String], Long, Long) => org.apache.spark.sql.DataFrame =
      (sp, _, _, _) => sp.range(3).toDF("id")
    val s1 = new FileStateStore(dir, Map("my_model" -> fn))
    val m = Model("mart.sc", ScalaBody(fn))
    s1.pushSnapshot(Snapshot(m, Fingerprint.of(m, "scala:my_model", Nil)))
    val s2 = new FileStateStore(dir, Map("my_model" -> fn))
    val loaded = s2.latestSnapshot("mart.sc").get.model.body
    assert(loaded.asInstanceOf[ScalaBody].fn eq fn)
  }

  test(s"[$backend] state export / import replaces a store's contents wholesale") {
    val d1 = stateDir("state_src")
    val s1 = new FileStateStore(d1)
    val snap = mkSnapshot("mart.exp", "SELECT 2 AS id", ModelKind.Full)
    s1.pushSnapshot(snap)
    s1.promoteEnvironment(EnvironmentRecord("prod", Map("mart.exp" -> snap.version)))
    val exported = SparkTestSession.tmpDir("state_exp") + "/state.json"
    s1.exportTo(exported)

    val d2 = stateDir("state_dst")
    val s2 = new FileStateStore(d2)
    s2.pushSnapshot(mkSnapshot("mart.other", "SELECT 3 AS id", ModelKind.Full))
    s2.importFrom(exported)
    // old contents gone, imported contents present — and durable
    assert(s2.latestSnapshot("mart.other").isEmpty)
    assert(s2.getSnapshot("mart.exp", snap.version).nonEmpty)
    val s3 = new FileStateStore(d2)
    assert(s3.getSnapshot("mart.exp", snap.version).nonEmpty)
    assert(s3.getEnvironment("prod").nonEmpty)
  }

  test(s"[$backend] migrate persists the upgrade; rollback restores the backup") {
    val dir = stateDir("migrate")
    val s = new FileStateStore(dir)
    // seed a v1 image through import (raw bytes land unmodified in the blob)
    val v1 = java.nio.file.Files.createTempFile("state_v1", ".json")
    java.nio.file.Files.writeString(v1,
      """{"snapshots": [],
        | "environments": [{"name": "prod", "finalized": true,
        |                   "snapshots": {"mart.a": "v123"}}]}""".stripMargin)
    s.importFrom(v1.toString)
    assert(s.migrateNow())  // stored image was behind → backed up + rewritten
    assert(!s.migrateNow()) // idempotent once current
    // a fresh store over the migrated image sees it current
    assert(!new FileStateStore(dir).migrateNow())
    // post-migration writes, then rollback: the pre-migration image returns
    s.setAutoRestatement("mart.a", 7L)
    s.rollback()
    assert(s.lastAutoRestatement("mart.a").isEmpty)
    assert(s.getEnvironment("prod").exists(_.snapshots == Map("mart.a" -> "v123")))
  }

  test(s"[$backend] rollback without a backup refuses loudly") {
    val s = new FileStateStore(stateDir("nobak"))
    s.setAutoRestatement("m", 1L) // some live state, but no migration backup
    intercept[IllegalArgumentException](s.rollback())
  }

  test(s"[$backend] deferPersist batches N mutations into one durable write") {
    val dir = stateDir("state_defer")
    val s = new FileStateStore(dir)
    val snap = mkSnapshot("mart.d", "SELECT 1 AS id", ModelKind.IncrementalByTimeRange(
      timeColumn = "d", timeFormat = "date"))
    s.pushSnapshot(snap)
    val day = 86400000L
    s.deferPersist {
      // a scheduler wave: many interval adds, widely-spaced so compaction
      // can't merge them away
      (0 until 20).foreach(i =>
        s.addInterval("mart.d", snap.version, Interval(2 * i * day, (2 * i + 1) * day)))
      // visible immediately to readers of THIS store (in-memory image current)
      assert(s.getSnapshot("mart.d", snap.version).get.intervals.size == 20)
      // but NOT yet durable: a fresh store over the same location sees the
      // pre-wave image — proof the per-mutation write was actually deferred
      assert(new FileStateStore(dir).getSnapshot("mart.d", snap.version)
        .get.intervals.isEmpty)
    }
    // one flush at scope close makes the whole wave durable
    assert(new FileStateStore(dir).getSnapshot("mart.d", snap.version)
      .get.intervals.size == 20)
    // nesting: only the OUTERMOST close flushes
    s.deferPersist {
      s.deferPersist { s.setAutoRestatement("mart.d", 5L) }
      assert(new FileStateStore(dir).lastAutoRestatement("mart.d").isEmpty)
    }
    assert(new FileStateStore(dir).lastAutoRestatement("mart.d").contains(5L))
    // an exception inside the scope still flushes the mutations that DID
    // happen (durability of partial waves beats losing them)
    intercept[RuntimeException](s.deferPersist {
      s.setAutoRestatement("mart.d", 9L); throw new RuntimeException("boom")
    })
    assert(new FileStateStore(dir).lastAutoRestatement("mart.d").contains(9L))
  }

  test(s"[$backend] interval flushes ride the delta log, replayed by new instances") {
    val dir = stateDir("state_dl")
    val s1 = new FileStateStore(dir)
    val snap = mkSnapshot("mart.dl", "SELECT 1 AS id", ModelKind.IncrementalByTimeRange(
      timeColumn = "d", timeFormat = "date"))
    s1.pushSnapshot(snap)
    val day = 86400000L
    // interval-only flushes: delta appends, image untouched (structural
    // state is identical before/after — the intervals live in the log)
    (0 until 5).foreach(i =>
      s1.addInterval("mart.dl", snap.version, Interval(2 * i * day, (2 * i + 1) * day)))
    s1.removeInterval("mart.dl", snap.version, Interval(0L, day))
    // a fresh instance replays image + log
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.dl", snap.version).get.intervals ==
      (1 until 5).map(i => Interval(2 * i * day, (2 * i + 1) * day)).toVector)
    // …and continues the txn chain: its next write must succeed, while the
    // ORIGINAL instance (whose txn the new write passes) must now refuse —
    // the optimistic guard sees delta appends exactly like image rewrites
    s2.addInterval("mart.dl", snap.version, Interval(20 * day, 21 * day))
    intercept[java.util.ConcurrentModificationException] {
      s1.addInterval("mart.dl", snap.version, Interval(30 * day, 31 * day))
    }
    // a structural mutation compacts: log truncated, image carries all
    val s3 = new FileStateStore(dir)
    s3.setAutoRestatement("mart.dl", 1L)
    val s4 = new FileStateStore(dir)
    assert(s4.getSnapshot("mart.dl", snap.version).get.intervals.size == 5)
    assert(s4.lastAutoRestatement("mart.dl").contains(1L))
  }

  test(s"[$backend] export includes the delta-log tail; import resets it") {
    val dir = stateDir("state_dle")
    val s1 = new FileStateStore(dir)
    val snap = mkSnapshot("mart.de", "SELECT 1 AS id", ModelKind.Full)
    s1.pushSnapshot(snap)
    s1.addInterval("mart.de", snap.version, Interval(0L, 10L)) // delta only
    val exp = java.nio.file.Files.createTempFile("state_exp", ".json").toString
    s1.exportTo(exp)
    val dir2 = stateDir("state_dli")
    val s2 = new FileStateStore(dir2)
    s2.importFrom(exp)
    assert(s2.getSnapshot("mart.de", snap.version).get.intervals ==
      Vector(Interval(0L, 10L)), "export lost the delta tail")
  }
}

/** The local-filesystem backend, plus its file-only behaviors (Hadoop URI
  * transport, on-disk schema migration). */
class FileStateStoreSpec extends StateStoreContractSpec {
  protected def backend: String = "file"
  protected def stateDir(tag: String): String = SparkTestSession.tmpDir(tag)

  test("a URI-scheme dir stores through the Hadoop FileSystem API") {
    val dir = "file://" + SparkTestSession.tmpDir("state_hdfs")
    val s1 = new FileStateStore(dir)
    val snap = Snapshot(
      Model("mart.hfs", SqlBody("SELECT 4 AS id"), kind = ModelKind.Full),
      Fingerprint.of(Model("mart.hfs", SqlBody("SELECT 4 AS id")), "SELECT 4 AS id", Nil),
      intervals = Vector(Interval(0L, 86400000L)))
    s1.pushSnapshot(snap)
    s1.promoteEnvironment(EnvironmentRecord("prod", Map("mart.hfs" -> snap.version)))
    // a second store over the same shared path resumes the state
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.hfs", snap.version).map(_.intervals) ==
      Some(Vector(Interval(0L, 86400000L))))
    assert(s2.getEnvironment("prod").nonEmpty)
  }

  test("wave flush cost ∝ dirty intervals: image untouched, log a few lines") {
    val dir = stateDir("state_dsz")
    val s = new FileStateStore(dir)
    val snap = {
      val m = Model("mart.sz", SqlBody("SELECT 1 AS id"),
        kind = ModelKind.IncrementalByTimeRange(timeColumn = "d", timeFormat = "date"),
        cron = "@daily", start = Some(0L))
      Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil))
    }
    s.pushSnapshot(snap)
    val img = java.nio.file.Paths.get(dir, "state.json")
    val imgBytesBefore = java.nio.file.Files.readAllBytes(img)
    val day = 86400000L
    s.deferPersist {
      (0 until 50).foreach(i =>
        s.addInterval("mart.sz", snap.version, Interval(2 * i * day, (2 * i + 1) * day)))
    }
    // the wave's ONE durable write was a delta append: the image bytes are
    // byte-identical, and the log holds exactly the wave's dirty records
    assert(java.util.Arrays.equals(imgBytesBefore, java.nio.file.Files.readAllBytes(img)),
      "wave flush rewrote the full image")
    val log = java.nio.file.Paths.get(dir, "state.delta.jsonl")
    val lines = new String(java.nio.file.Files.readAllBytes(log), "UTF-8")
      .linesIterator.count(_.nonEmpty)
    assert(lines == 50, s"log holds $lines records, wave dirtied 50")
  }

  test("stale delta records (crash between rewrite and clearDelta) don't replay") {
    val dir = stateDir("state_stale")
    val s = new FileStateStore(dir)
    val snap = {
      val m = Model("mart.st", SqlBody("SELECT 1 AS id"), kind = ModelKind.Full)
      Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil),
        intervals = Vector(Interval(0L, 10L)))
    }
    s.pushSnapshot(snap) // full image at txn 1 carries interval (0,10)
    // a crash between writeAtomic and clearDelta leaves PRE-rewrite records
    // behind: simulate one claiming to remove the interval the newer image
    // recorded — its txn (1 ≤ image txn) marks it superseded
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "state.delta.jsonl"),
      s"""{"op":"remove","name":"mart.st","version":"${snap.version}","s":0,"e":10,"txn":1}\n""")
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.st", snap.version).get.intervals ==
      Vector(Interval(0L, 10L)), "stale delta record replayed over the newer image")
    // and the txn chain survives: the next write must not see a spurious
    // concurrent-modification (the stale tail trails the image's txn)
    s2.addInterval("mart.st", snap.version, Interval(20L, 30L))
    assert(new FileStateStore(dir).getSnapshot("mart.st", snap.version)
      .get.intervals.size == 2)
  }

  test("a torn final delta line is tolerated (crash mid-append)") {
    val dir = stateDir("state_torn")
    val s = new FileStateStore(dir)
    val snap = {
      val m = Model("mart.tr", SqlBody("SELECT 1 AS id"), kind = ModelKind.Full)
      Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil))
    }
    s.pushSnapshot(snap)
    s.addInterval("mart.tr", snap.version, Interval(0L, 10L))
    s.addInterval("mart.tr", snap.version, Interval(20L, 30L))
    // simulate a crash mid-append: half a record at the log's tail
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "state.delta.jsonl"),
      """{"op":"add","name":"mart.tr","ver""".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.tr", snap.version).get.intervals ==
      Vector(Interval(0L, 10L), Interval(20L, 30L)),
      "replay should keep every complete record and drop the torn tail")
    // and the store keeps working (txn chain intact from the last good line)
    s2.addInterval("mart.tr", snap.version, Interval(40L, 50L))
    assert(new FileStateStore(dir).getSnapshot("mart.tr", snap.version)
      .get.intervals.size == 3)
  }

  test("a torn tail cut inside the txn field cannot wedge the store") {
    // the nastier crash window: txn is the LAST field serialized, so a tear
    // inside its digits leaves `..."txn": 99` — unparseable (no closing
    // brace), rightly skipped by replay, but a raw regex over the tail
    // would extract the phantom 99 and every later persist would throw
    // ConcurrentModificationException until someone hand-deleted the log.
    for (frag <- Seq(
      """{"op":"add","name":"mart.tw","version":"v1","s":0,"e":1,"txn": 99""",
      """{"op":"add","name":"mart.tw","version":"v1","s":0,"e":1,"txn""")) {
      val dir = stateDir("state_torn_txn_" + frag.length)
      val s = new FileStateStore(dir)
      val snap = {
        val m = Model("mart.tw", SqlBody("SELECT 1 AS id"), kind = ModelKind.Full)
        Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil))
      }
      s.pushSnapshot(snap)
      s.addInterval("mart.tw", snap.version, Interval(0L, 10L))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "state.delta.jsonl"),
        frag.getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
      val s2 = new FileStateStore(dir)
      // the recovered instance must both read and WRITE cleanly
      s2.addInterval("mart.tw", snap.version, Interval(20L, 30L))
      assert(new FileStateStore(dir).getSnapshot("mart.tw", snap.version)
        .get.intervals == Vector(Interval(0L, 10L), Interval(20L, 30L)),
        s"fragment <$frag> wedged or corrupted the store")
    }
  }

  test("a record torn after '}' but before its newline stays COMMITTED " +
      "consistently (replay applies it and the lock check honors its txn)") {
    val dir = stateDir("state_torn_nl")
    val s = new FileStateStore(dir)
    val snap = {
      val m = Model("mart.tn", SqlBody("SELECT 1 AS id"), kind = ModelKind.Full)
      Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil))
    }
    s.pushSnapshot(snap)
    s.addInterval("mart.tn", snap.version, Interval(0L, 10L))
    // strip the log's final newline: the record bytes all landed, only the
    // terminator was lost — replay parses and applies it, so the recovered
    // in-memory txn includes it; the O(1) tail check must agree or the
    // next persist false-positives the optimistic lock
    val p = java.nio.file.Paths.get(dir, "state.delta.jsonl")
    val bytes = java.nio.file.Files.readAllBytes(p)
    assert(bytes.last == '\n'.toByte)
    java.nio.file.Files.write(p, bytes.dropRight(1))
    val s2 = new FileStateStore(dir)
    assert(s2.getSnapshot("mart.tn", snap.version).get.intervals ==
      Vector(Interval(0L, 10L)))
    s2.addInterval("mart.tn", snap.version, Interval(20L, 30L))
    assert(new FileStateStore(dir).getSnapshot("mart.tn", snap.version)
      .get.intervals == Vector(Interval(0L, 10L), Interval(20L, 30L)))
  }

  test("v1 state files migrate on load (schema versioning, migrator.py)") {
    val dir = SparkTestSession.tmpDir("state")
    // write a version-1 file by hand: no `version`, no environment
    // `identifiers`, no `auto_restatements` table
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "state.json"),
      """{"snapshots": [],
        | "environments": [{"name": "prod", "finalized": true,
        |                   "snapshots": {"mart.a": "v123"}}]}""".stripMargin)
    val s = new FileStateStore(dir)
    val env = s.getEnvironment("prod").get
    assert(env.snapshots == Map("mart.a" -> "v123") && env.identifiers.isEmpty)
    // next persist writes the current schema version
    s.setAutoRestatement("mart.a", 7L)
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "state.json")), "UTF-8")
    assert(txt.contains(s""""version" : ${FileStateStore.SchemaVersion}"""))
    assert(new FileStateStore(dir).lastAutoRestatement("mart.a").contains(7L))
  }
}

/** The database backend over embedded Derby (the JDBC driver Spark already
  * ships): the same contract, with the check-then-write critical section
  * serialized by a database row lock instead of an OS file lock. */
class JdbcStateStoreSpec extends StateStoreContractSpec {
  System.setProperty("derby.stream.error.file",
    java.nio.file.Files.createTempDirectory("derby_log").resolve("derby.log").toString)
  protected def backend: String = "jdbc"
  protected def stateDir(tag: String): String =
    s"jdbc:derby:${SparkTestSession.tmpDir(tag)}/db;create=true"

  test("[jdbc] a row lock held by another writer surfaces as ConcurrentModificationException") {
    val url = stateDir("state_lock")
    val m = Model("mart.lk", SqlBody("SELECT 1 AS id"), kind = ModelKind.Full)
    val snap = Snapshot(m, Fingerprint.of(m, "SELECT 1 AS id", Nil))
    val store = new FileStateStore(url)
    store.pushSnapshot(snap)
    val holder = java.sql.DriverManager.getConnection(url)
    val cfg = holder.createStatement()
    cfg.execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY('derby.locks.waitTimeout', '1')")
    cfg.close()
    holder.setAutoCommit(false)
    try {
      val st = holder.createStatement()
      st.executeQuery("SELECT ID FROM GRAFT_STATE WHERE ID = 1 FOR UPDATE").close()
      st.executeUpdate("UPDATE GRAFT_STATE SET TXN = TXN WHERE ID = 1")
      st.close()
      val e = intercept[java.util.ConcurrentModificationException](
        store.addInterval("mart.lk", snap.version, Interval(0L, 10L)))
      assert(e.getCause.isInstanceOf[java.sql.SQLTransactionRollbackException], e.getCause)
    } finally { holder.rollback(); holder.close() }
    // the documented recovery: reload, re-apply
    val reloaded = new FileStateStore(url)
    reloaded.addInterval("mart.lk", snap.version, Interval(0L, 10L))
    assert(new FileStateStore(url).getSnapshot("mart.lk", snap.version).get.intervals ==
      Vector(Interval(0L, 10L)))
  }
}
