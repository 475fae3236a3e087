package graft.web

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import graft.GraftContext

/** Browser UI + HTTP API (reference `sqlmesh ui`, cli/main.py:900, backed by
  * `web/server/api/endpoints/` — models, environments, lineage, plan,
  * commands, files). Re-expressed with ZERO dependencies over the JDK's
  * built-in `com.sun.net.httpserver`: the API mirrors the reference's
  * endpoint surface, and `/` serves a self-contained single-page app
  * (catalog, DAG, lineage, render/evaluate/fetchdf consoles, plan+apply —
  * the reference's ide/catalog/docs/plan modes) with no external assets.
  *
  * Request handling is single-threaded on purpose: every endpoint funnels
  * into one GraftContext/SparkSession exactly like successive CLI verbs, so
  * two browser tabs can't interleave a plan apply with a backfill.
  */
final class UiServer(ctx: GraftContext, host: String = "127.0.0.1",
                     port: Int = 0, projectDir: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)
  server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())

  /** Per-process bearer token: every request must carry it (query param for
    * the HTML pages, `X-Graft-Token` header from the SPA). Without it, any
    * web page the user browses could fire cross-origin "simple" POSTs at
    * localhost — arbitrary SQL via fetchdf, file writes, plan applies —
    * that need no CORS preflight to EXECUTE server-side. A secret baked
    * into the printed URL is the standard localhost-UI defense (Jupyter's). */
  val token: String = java.util.UUID.randomUUID().toString.replace("-", "")

  def address: String =
    s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"

  def start(): this.type = { server.createContext("/", handler); server.start(); this }
  def stop(): Unit = server.stop(0)

  // ----------------------------------------------------------- plumbing

  private def send(ex: HttpExchange, code: Int, body: String,
                   cType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$cType; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def err(ex: HttpExchange, code: Int, msg: String): Unit = {
    val o = mapper.createObjectNode(); o.put("error", msg)
    send(ex, code, o.toString)
  }

  private def readBody(ex: HttpExchange): JsonNode = {
    val text = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    if (text.isEmpty) mapper.createObjectNode() else mapper.readTree(text)
  }

  /** start/end accepted as epoch millis or the CLI's date/ISO forms. */
  private def ts(n: JsonNode, field: String, default: Long): Long =
    Option(n.get(field)).filterNot(_.isNull).map { v =>
      if (v.isNumber) v.asLong else graft.Main.parseTs(v.asText)
    }.getOrElse(default)

  // same default window end as the CLI (Main.scala run/plan flags)
  private def defaultEnd: Long =
    graft.core.IntervalUnit.Day.floor(System.currentTimeMillis())

  /** DataFrame → {columns:[...], rows:[[str|null,...],...]} with a row cap —
    * the UI is a preview surface, never a data exporter. */
  private def dfJson(df: org.apache.spark.sql.DataFrame, limit: Int): ObjectNode = {
    val o = mapper.createObjectNode()
    val cols = o.putArray("columns")
    df.columns.foreach(cols.add)
    val rows = o.putArray("rows")
    df.limit(limit).collect().foreach { r =>
      val a = rows.addArray()
      (0 until r.length).foreach { i =>
        if (r.isNullAt(i)) a.addNull() else a.add(r.get(i).toString)
      }
    }
    o
  }

  // ------------------------------------------------------------- routes

  private val handler: com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) =>
    try route(ex)
    catch {
      case e: IllegalArgumentException => err(ex, 400, e.getMessage)
      case e: NoSuchElementException   => err(ex, 404, e.getMessage)
      case e: Throwable                => err(ex, 500, String.valueOf(e.getMessage))
    }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val parts = path.split('/').filter(_.nonEmpty).toList
    val qTok = Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split('&')).collectFirst {
        case s if s.startsWith("token=") => s.drop(6)
      }
    val hTok = Option(ex.getRequestHeaders.getFirst("X-Graft-Token"))
    if (!qTok.contains(token) && !hTok.contains(token))
      return err(ex, 403, "missing or invalid token — open the URL printed by `graft ui`")
    (method, parts) match {
      case ("GET", Nil)            => send(ex, 200, Ui.page, "text/html")
      case ("GET", List("docs"))   =>
        send(ex, 200, graft.docs.DocsGenerator.html(ctx), "text/html")
      case ("GET", List("api", "models")) => send(ex, 200, modelsJson.toString)
      case ("GET", List("api", "models", name)) =>
        send(ex, 200, modelDetail(name).toString)
      case ("GET", List("api", "environments")) =>
        send(ex, 200, environmentsJson.toString)
      case ("DELETE", List("api", "environments", name)) =>
        ctx.invalidateEnvironment(name, sync = true)
        send(ex, 200, """{"ok":true}""")
      case ("GET", List("api", "dag")) => send(ex, 200, dagJson.toString)
      case ("GET", List("api", "lineage", model)) =>
        send(ex, 200, lineageJson(model, None).toString)
      case ("GET", List("api", "lineage", model, column)) =>
        send(ex, 200, lineageJson(model, Some(column)).toString)
      case ("POST", List("api", "commands", "render")) =>
        val b = readBody(ex)
        val o = mapper.createObjectNode()
        o.put("sql", ctx.renderSql(req(b, "model"),
          ts(b, "start", 0L), ts(b, "end", defaultEnd)))
        send(ex, 200, o.toString)
      case ("POST", List("api", "commands", "evaluate")) =>
        val b = readBody(ex)
        send(ex, 200, dfJson(ctx.evaluate(req(b, "model"),
          ts(b, "start", 0L), ts(b, "end", defaultEnd)), limit(b)).toString)
      case ("POST", List("api", "commands", "fetchdf")) =>
        val b = readBody(ex)
        send(ex, 200, dfJson(ctx.fetch(req(b, "sql")), limit(b)).toString)
      case ("GET", List("api", "commands", "test")) =>
        send(ex, 200, testsJson.toString)
      case ("POST", List("api", "plan")) =>
        val b = readBody(ex)
        send(ex, 200, planJson(b, apply = false).toString)
      case ("POST", List("api", "commands", "apply")) =>
        val b = readBody(ex)
        send(ex, 200, planJson(b, apply = true).toString)
      case ("GET", List("api", "files")) => send(ex, 200, filesJson.toString)
      case ("GET", "api" :: "files" :: rest) =>
        send(ex, 200, readFile(rest.mkString("/")).toString)
      case ("POST", "api" :: "files" :: rest) =>
        val b = readBody(ex)
        writeFile(rest.mkString("/"), req(b, "content"))
        send(ex, 200, """{"ok":true}""")
      case ("GET", _)  => err(ex, 404, s"no route $path")
      case _           => err(ex, 405, s"$method not allowed on $path")
    }
  }

  private def req(b: JsonNode, field: String): String =
    Option(b.get(field)).filterNot(_.isNull).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"missing field '$field'"))
  private def limit(b: JsonNode): Int =
    Option(b.get("limit")).map(_.asInt).filter(n => n > 0 && n <= 10000).getOrElse(100)

  // ------------------------------------------------------------ payloads

  private def modelsJson: ArrayNode = {
    val arr = mapper.createArrayNode()
    val dag = graft.core.ModelDag(ctx.allModels.values)
    ctx.allModels.toSeq.sortBy(_._1).foreach { case (name, m) =>
      val o = arr.addObject()
      o.put("name", name)
      o.put("kind", m.kind.name)
      o.put("cron", m.cron)
      m.owner.foreach(o.put("owner", _))
      val tags = o.putArray("tags"); m.tags.foreach(tags.add)
      val deps = o.putArray("depends_on")
      dag.parents(name).toSeq.sorted.foreach(deps.add)
    }
    arr
  }

  private def modelDetail(name: String): ObjectNode = {
    val m = ctx.allModels.getOrElse(name,
      throw new NoSuchElementException(s"model $name not found"))
    val o = mapper.createObjectNode()
    o.put("name", name)
    o.put("kind", m.kind.name)
    o.put("cron", m.cron)
    m.owner.foreach(o.put("owner", _))
    m.description.foreach(o.put("description", _))
    val g = o.putArray("grains"); m.grains.foreach(g.add)
    val audits = o.putArray("audits"); m.audits.foreach(a => audits.add(a._1))
    o.put("definition", m.body match {
      case graft.core.SqlBody(sql) => sql.trim
      case _                       => "<scala-bodied model>"
    })
    o.put("rendered", scala.util.Try(
      ctx.renderSql(name, 0L, 86400000L, 0L)).getOrElse(""))
    o
  }

  private def environmentsJson: ArrayNode = {
    val arr = mapper.createArrayNode()
    ctx.environments.sortBy(_.name).foreach { e =>
      val o = arr.addObject()
      o.put("name", e.name)
      o.put("finalized", e.finalized)
      e.expirationTs.foreach(o.put("expiration_ts", _))
      val snaps = o.putObject("snapshots")
      e.snapshots.toSeq.sortBy(_._1).foreach { case (k, v) => snaps.put(k, v) }
    }
    arr
  }

  private def dagJson: ObjectNode = {
    val o = mapper.createObjectNode()
    val nodes = o.putArray("models")
    val dag = graft.core.ModelDag(ctx.allModels.values)
    val names = dag.names.toSeq.sorted
    names.foreach(nodes.add)
    val edges = o.putArray("edges")
    names.foreach { name =>
      dag.parents(name).toSeq.sorted.foreach { up =>
        val e = edges.addArray(); e.add(up); e.add(name)
      }
    }
    o
  }

  private def lineageJson(model: String, column: Option[String]): ObjectNode = {
    if (!ctx.allModels.contains(model))
      throw new NoSuchElementException(s"model $model not found")
    val lin = ctx.columnLineage(model)
    val o = mapper.createObjectNode()
    o.put("model", model)
    val cols = o.putObject("columns")
    lin.toSeq.sortBy(_._1)
      .filter(kv => column.forall(_ == kv._1))
      .foreach { case (c, ups) =>
        val a = cols.putArray(c); ups.toSeq.sorted.foreach(a.add)
      }
    column.filterNot(lin.contains).foreach(c =>
      throw new NoSuchElementException(s"column $c not found on $model"))
    o
  }

  private def testsJson: ObjectNode = {
    val rs = ctx.runTests()
    val o = mapper.createObjectNode()
    o.put("total", rs.size)
    o.put("failed", rs.count(_.failure.nonEmpty))
    val arr = o.putArray("tests")
    rs.foreach { r =>
      val t = arr.addObject()
      t.put("name", r.name); t.put("passed", r.failure.isEmpty)
      r.failure.foreach(t.put("message", _))
    }
    o
  }

  private def planJson(b: JsonNode, apply: Boolean): ObjectNode = {
    val env = Option(b.get("environment")).map(_.asText).getOrElse("prod")
    def strs(field: String): Seq[String] =
      Option(b.get(field)).filter(_.isArray).toSeq
        .flatMap(a => (0 until a.size).map(a.get(_).asText))
    def bool(field: String, default: Boolean): Boolean =
      Option(b.get(field)).map(_.asBoolean).getOrElse(default)
    // the CLI plan surface (select/backfill selectors, forward-only,
    // skip/empty backfill, gap guard, categorization) — reference
    // web/server/api/endpoints/plan.py forwards the same options
    val p = ctx.plan(env, ts(b, "start", 0L), ts(b, "end", defaultEnd),
      select = strs("select"),
      backfill = strs("backfill"),
      forwardOnly = bool("forward_only", default = false),
      skipBackfill = bool("skip_backfill", default = false),
      emptyBackfill = bool("empty_backfill", default = false),
      noGaps = bool("no_gaps", default = false),
      includeUnmodified = bool("include_unmodified", default = true),
      autoCategorize = bool("auto_categorize", default = true))
    val o = mapper.createObjectNode()
    o.put("environment", env)
    o.put("has_changes", p.hasChanges)
    o.put("describe", p.describe)
    val add = o.putArray("added"); p.added.map(_.model.name).sorted.foreach(add.add)
    val mod = o.putArray("modified")
    p.modified.sortBy(_._2.model.name).foreach { case (_, nw) =>
      val mo = mod.addObject()
      mo.put("name", nw.model.name)
      mo.put("category", nw.category.map(_.name).getOrElse("?"))
    }
    val rem = o.putArray("removed"); p.removed.sorted.foreach(rem.add)
    if (apply) { ctx.apply(p); o.put("applied", true) }
    o
  }

  // file browsing/editing (reference endpoints/files.py — the IDE half);
  // only available when the server was started over a source project dir
  private def projectRoot: java.nio.file.Path = projectDir match {
    case Some(d) => java.nio.file.Paths.get(d).toAbsolutePath.normalize()
    case None => throw new IllegalArgumentException(
      "file API needs a project dir (`graft ui --project DIR`)")
  }

  /** Resolve a request path inside the project root, refusing traversal.
    * normalize() alone would not resolve SYMLINKS — a link inside the
    * project pointing outside would pass the prefix check — so the deepest
    * existing ancestor is resolved to its real path first and re-checked
    * (the file itself may not exist yet on writes). */
  private def resolveSafe(rel: String): java.nio.file.Path = {
    val p = projectRoot.resolve(rel).normalize()
    if (!p.startsWith(projectRoot))
      throw new IllegalArgumentException(s"path escapes project: $rel")
    val realRoot = projectRoot.toRealPath()
    var anc = p
    while (!java.nio.file.Files.exists(anc,
        java.nio.file.LinkOption.NOFOLLOW_LINKS) && anc.getParent != null)
      anc = anc.getParent
    if (!anc.toRealPath().startsWith(realRoot))
      throw new IllegalArgumentException(s"path escapes project via symlink: $rel")
    p
  }

  private def filesJson: ArrayNode = {
    val arr = mapper.createArrayNode()
    val root = projectRoot
    val it = java.nio.file.Files.walk(root)
    try it.filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => { val n = p.getFileName.toString
        n.endsWith(".sql") || n.endsWith(".yaml") || n.endsWith(".yml") ||
          n.endsWith(".csv") })
      .sorted().forEach(p => { arr.add(root.relativize(p).toString); () })
    finally it.close()
    arr
  }

  private def readFile(rel: String): ObjectNode = {
    val p = resolveSafe(rel)
    if (!java.nio.file.Files.isRegularFile(p))
      throw new NoSuchElementException(s"no such file: $rel")
    val o = mapper.createObjectNode()
    o.put("path", rel)
    o.put("content", java.nio.file.Files.readString(p))
    o
  }

  private def writeFile(rel: String, content: String): Unit = {
    val p = resolveSafe(rel)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, content)
    ()
  }
}
