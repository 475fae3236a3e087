package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The context's fingerprint index (reference fingerprint_from_node's shared
  * `cache`, snapshot/definition.py:1861): a model is fingerprinted again only
  * when it or an upstream fingerprint changed, and every fingerprint equals
  * the one a fresh context computes. Counts read [[Fingerprint.computed]]. */
class FingerprintIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val D = 86400000L

  /** fi.a → fi.b, fi.c → fi.d → fi.e, plus a separate fi.f. */
  private val bodies = Seq(
    "fi.a" -> "SELECT 1 AS id",
    "fi.b" -> "SELECT id FROM fi.a",
    "fi.c" -> "SELECT id FROM fi.a",
    "fi.d" -> "SELECT b.id FROM fi.b b JOIN fi.c c ON b.id = c.id",
    "fi.e" -> "SELECT id FROM fi.d",
    "fi.f" -> "SELECT 2 AS id")
  private val names = bodies.map(_._1)
  private val n = bodies.size

  private def model(name: String, sql: String) = Model(name, SqlBody(sql), kind = ModelKind.View)

  private def newCtx(ws: String = SparkTestSession.tmpDir("fi-ws"), durable: Boolean = false) = {
    val ctx = new GraftContext(spark, ws, durableState = durable)
    bodies.foreach { case (name, sql) => ctx.addModel(model(name, sql)) }
    ctx
  }

  /** Fingerprints computed while `f` runs. */
  private def computed(f: => Unit): Long = {
    val before = Fingerprint.computed.get()
    f
    Fingerprint.computed.get() - before
  }

  private def fingerprints(ctx: GraftContext, names: Seq[String]): Map[String, SnapshotFingerprint] =
    ctx.snapshotsOf(names).map { case (name, s) => name -> s.fingerprint }

  test("a no-op re-plan computes no fingerprint") {
    val ctx = newCtx()
    assert(computed(ctx.apply(ctx.plan("prod", 0L, D))) == n)
    var p: Plan = null
    assert(computed { p = ctx.plan("prod", 0L, D) } == 0)
    assert(p.added.isEmpty && p.modified.isEmpty && p.metadataOnly.isEmpty)
  }

  test("a one-edit re-plan computes exactly the edited model's downstream cone") {
    val ctx = newCtx()
    ctx.apply(ctx.plan("prod", 0L, D))
    val cone = Set("fi.b", "fi.d", "fi.e")
    ctx.addModel(model("fi.b", "SELECT id + 1 AS id FROM fi.a"))
    var p: Plan = null
    assert(computed { p = ctx.plan("prod", 0L, D) } == cone.size)
    assert(p.modified.map(_._2.model.name).toSet == cone)
    // reverting costs the cone again, and the plan is a no-op again
    ctx.addModel(model("fi.b", "SELECT id FROM fi.a"))
    assert(computed { p = ctx.plan("prod", 0L, D) } == cone.size)
    assert(p.added.isEmpty && p.modified.isEmpty && p.metadataOnly.isEmpty)
  }

  test("lint then plan on a fresh context fingerprints the project once") {
    val ctx = newCtx()
    assert(computed { ctx.lint(); ctx.plan("prod", 0L, D) } == n)
  }

  test("reloading an unchanged project computes no fingerprint") {
    val dir = Files.createDirectories(Paths.get(SparkTestSession.tmpDir("fi-project"), "models"))
    bodies.foreach { case (name, sql) =>
      Files.write(dir.resolve(s"${name.stripPrefix("fi.")}.sql"),
        s"MODEL (name $name, kind VIEW);\n$sql\n".getBytes("UTF-8"))
    }
    val ctx = new GraftContext(spark, SparkTestSession.tmpDir("fi-load"))
    ctx.loadModels(dir.toString)
    assert(computed(ctx.plan("prod", 0L, D)) == n)
    val loaded = names.map(ctx.model)
    ctx.loadModels(dir.toString)
    // new model values with equal content
    assert(names.map(ctx.model).zip(loaded).forall { case (now, before) =>
      !(now eq before) && now == before })
    assert(computed(ctx.plan("prod", 0L, D)) == 0)
  }

  test("a selector plan fingerprints unselected models with their baseline definition") {
    val ws = SparkTestSession.tmpDir("fi-select")
    val ctx = newCtx(ws, durable = true)
    ctx.apply(ctx.plan("prod", 0L, D))
    ctx.addModel(model("fi.a", "SELECT 3 AS id"))
    ctx.addModel(model("fi.e", "SELECT id + 1 AS id FROM fi.d"))
    val selected = ctx.plan("prod", 0L, D, select = Seq("fi.e"))
    assert(selected.modified.map(_._2.model.name).toSet == Set("fi.e"))
    val all = ctx.plan("prod", 0L, D)
    assert(all.modified.map(_._2.model.name).toSet == Set("fi.a", "fi.b", "fi.c", "fi.d", "fi.e"))
    // both plans carry the fingerprints a fresh context computes
    val fresh = newCtx(ws, durable = true)
    fresh.addModel(model("fi.a", "SELECT 3 AS id"))
    fresh.addModel(model("fi.e", "SELECT id + 1 AS id FROM fi.d"))
    def fps(p: Plan) = p.snapshots.map(s => s.model.name -> s.fingerprint).toMap
    assert(fps(selected) == fps(fresh.plan("prod", 0L, D, select = Seq("fi.e"))))
    assert(fps(all) == fps(fresh.plan("prod", 0L, D)))
  }

  test("after seeded edits, reverts and selector plans every fingerprint is a fresh context's") {
    val ws = SparkTestSession.tmpDir("fi-seq")
    val ctx = newCtx(ws, durable = true)
    val original = bodies.toMap
    val local = scala.collection.mutable.LinkedHashMap[String, String](bodies: _*)
    // fi.g reads fi.ext, an external until a model of that name is added
    local("fi.g") = "SELECT id FROM fi.ext"
    ctx.addExternal("fi.ext", "(SELECT 5 AS id)").addModel(model("fi.g", local("fi.g")))
    ctx.apply(ctx.plan("prod", 0L, D))
    val rnd = new scala.util.Random(9)
    var externalIsModel = false
    def check(step: String): Unit = {
      val fresh = new GraftContext(spark, ws, durableState = true)
      fresh.addExternal("fi.ext", "(SELECT 5 AS id)")
      local.foreach { case (name, sql) => fresh.addModel(model(name, sql)) }
      val all = local.keys.toSeq
      assert(fingerprints(ctx, all) == fingerprints(fresh, all), step)
      val select = Seq(all(rnd.nextInt(all.size)))
      def fps(c: GraftContext, sel: Seq[String]) =
        c.plan("prod", 0L, D, select = sel).snapshots.map(s => s.model.name -> s.fingerprint).toMap
      assert(fps(ctx, select) == fps(fresh, select), s"$step, select $select")
    }
    (1 to 24).foreach { i =>
      val name = bodies(rnd.nextInt(n))._1
      rnd.nextInt(4) match {
        case 0 => local(name) = original(name) // revert
        case 1 if !externalIsModel && i > 8 =>
          local("fi.ext") = "SELECT 6 AS id"; externalIsModel = true
        case 2 if i % 6 == 0 => ctx.apply(ctx.plan("prod", 0L, D))
        case _ => local(name) = original(name) + s" WHERE $i > 0"
      }
      local.foreach { case (m, sql) => ctx.addModel(model(m, sql)) }
      check(s"step $i")
    }
    assert(externalIsModel)
  }

  test("only the fingerprint index calls Fingerprint.of") {
    // GraftContext.fingerprinted is the one main-code caller, so no path
    // fingerprints around the index
    val root = Paths.get("src/main/scala")
    val site = "val fp = Fingerprint.of(m, bodyText, parentFps)"
    val stream = Files.walk(root)
    val files = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally stream.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if line.contains("Fingerprint.of(") &&
        !(rel == "graft/GraftContext.scala" && line.trim == site)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
