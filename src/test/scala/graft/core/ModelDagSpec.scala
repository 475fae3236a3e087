package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The one model graph: levels, parents and closures over `references`,
  * plus the guard that keeps every other module from walking it by hand. */
class ModelDagSpec extends AnyFunSuite {
  private def m(name: String, refs: String*) =
    Model(name, SqlBody("SELECT 1 AS x"), dependsOn = refs.toSet)

  // s.a, s.b, s.f → s.c (a, b), s.d (a) → s.e (c, d); s.a also reads raw.x
  private val threeLevels = ModelDag(Seq(
    m("s.e", "s.c", "s.d"), m("s.c", "s.b", "s.a"), m("s.d", "s.a"),
    m("s.a", "raw.x"), m("s.f"), m("s.b")))

  test("levels group by depth and sort within a level") {
    assert(threeLevels.levels ==
      Seq(Seq("s.a", "s.b", "s.f"), Seq("s.c", "s.d"), Seq("s.e")))
    assert(threeLevels.names == Set("s.a", "s.b", "s.c", "s.d", "s.e", "s.f"))
    assert(threeLevels.parents("s.e") == Set("s.c", "s.d"))
    assert(threeLevels.parents("s.a").isEmpty)
  }

  test("a cycle is refused, naming its members") {
    val dag = ModelDag(Seq(m("c.a", "c.c"), m("c.b", "c.a"), m("c.c", "c.b"), m("c.root")))
    val e = intercept[IllegalArgumentException](dag.levels)
    assert(e.getMessage.contains("cycle among models"))
    Seq("c.a", "c.b", "c.c").foreach(n => assert(e.getMessage.contains(n), e.getMessage))
    assert(!e.getMessage.contains("c.root"), e.getMessage)
  }

  test("closures include their seeds") {
    assert(threeLevels.upstream(Set("s.c")) == Set("s.a", "s.b", "s.c"))
    assert(threeLevels.downstream(Set("s.a")) == Set("s.a", "s.c", "s.d", "s.e"))
    assert(threeLevels.upstream(Set("s.f")) == Set("s.f"))
    assert(threeLevels.downstream(Set("s.e", "s.b")) == Set("s.b", "s.c", "s.e"))
    assert(threeLevels.upstream(Set.empty).isEmpty)
  }

  test("self-references and names outside the set are not edges") {
    val dag = ModelDag(Seq(m("x.a", "x.a", "raw.t"), m("x.b", "x.b", "x.a", "other.u")))
    assert(dag.levels == Seq(Seq("x.a"), Seq("x.b")))
    assert(dag.parents("x.a").isEmpty && dag.parents("x.b") == Set("x.a"))
    assert(dag.downstream(Set("x.b")) == Set("x.b"))
    assert(!dag.names.contains("raw.t"))
    // with externals, referenced names join as parentless nodes in level 0
    val ext = ModelDag.withExternals(Seq(m("x.a", "x.a", "raw.t"), m("x.b", "x.a")))
    assert(ext.levels == Seq(Seq("raw.t"), Seq("x.a"), Seq("x.b")))
    assert(ext.parents("x.a") == Set("raw.t") && ext.parents("raw.t").isEmpty)
  }

  test("only core.ModelDag walks the model graph") {
    // ordering and dependency closure are ModelDag's: no other module keeps
    // its own Kahn loop or frontier walk over `references` (the interval
    // algebra in core/Interval.scala is not a graph walk and is not scanned)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val walkers = Seq("GraftContext.scala", "plans/", "core/Snapshot.scala",
      "core/ModelSelector.scala", "docs/")
    val walkVars = """\bvar\s+(frontier|remaining|indeg)\b""".r
    val stream = java.nio.file.Files.walk(root)
    val files = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    } finally stream.close()
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if (rel != "core/ModelDag.scala" && line.contains("cycle among models")) ||
        (walkers.exists(rel.startsWith) && walkVars.findFirstIn(line).isDefined)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
