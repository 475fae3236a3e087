package graft.docs

import graft.GraftContext
import graft.core.{ModelDag, ScalaBody, SeedBody, SqlBody}

/** Static project documentation — the offline stand-in for the reference's
  * web UI (reference `web/`, `sqlmesh ui`; same role as `dbt docs generate`).
  * One self-contained HTML page: project summary, a lineage DAG rendered as
  * inline SVG (layered longest-path layout — no graphviz or JS-library
  * dependency), a searchable model table, and per-model detail (kind, cron,
  * owner, columns, audits, upstream/downstream, rendered SQL). Everything is
  * generated from the loaded context; no server, no network. */
object DocsGenerator {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** The lineage DAG as inline SVG: nodes as boxes in topological columns
    * (externals in column 0, each model one past its deepest upstream),
    * edges as cubic curves. Externals are dashed. */
  private def dagSvg(models: Map[String, graft.core.Model], dag: ModelDag): String = {
    val layer = dag.levels.zipWithIndex.flatMap { case (ns, l) => ns.map(_ -> l) }.toMap
    val nodes = layer.keys.toSeq.sorted
    val byLayer = nodes.groupBy(layer).view.mapValues(_.sorted).toMap
    val boxW = 200; val boxH = 44; val gapX = 70; val gapY = 22
    val pos: Map[String, (Int, Int)] = byLayer.toSeq.flatMap { case (l, ns) =>
      ns.zipWithIndex.map { case (n, i) =>
        n -> (10 + l * (boxW + gapX), 10 + i * (boxH + gapY))
      }
    }.toMap
    val width = 20 + (layer.values.max + 1) * (boxW + gapX)
    val height = 20 + byLayer.values.map(_.size).max * (boxH + gapY)
    val sb = new StringBuilder(
      s"""<svg viewBox="0 0 $width $height" width="$width" height="$height" xmlns="http://www.w3.org/2000/svg">""")
    // edges first (under the boxes)
    models.values.toSeq.sortBy(_.name).foreach { m =>
      dag.parents(m.name).toSeq.sorted.foreach { up =>
        val (x1, y1) = pos(up); val (x2, y2) = pos(m.name)
        val sx = x1 + boxW; val sy = y1 + boxH / 2
        val tx = x2; val ty = y2 + boxH / 2
        val mx = (sx + tx) / 2
        sb.append(s"""<path d="M $sx $sy C $mx $sy, $mx $ty, $tx $ty" """ +
          """fill="none" stroke="#9aa4b2" stroke-width="1.5"/>""")
      }
    }
    nodes.foreach { n =>
      val (x, y) = pos(n)
      val isModel = models.contains(n)
      val dash = if (isModel) "" else """ stroke-dasharray="5,3""""
      val kind = models.get(n).map(_.kind.name).getOrElse("EXTERNAL")
      sb.append(
        s"""<g><rect x="$x" y="$y" rx="6" width="$boxW" height="$boxH" """ +
          s"""fill="${if (isModel) "#f4f6fa" else "#ffffff"}" stroke="#5b6472"$dash/>""" +
          s"""<text x="${x + 10}" y="${y + 18}" font-size="12" font-family="monospace">${esc(n)}</text>""" +
          s"""<text x="${x + 10}" y="${y + 34}" font-size="10" fill="#6b7280">${esc(kind)}</text></g>""")
    }
    sb.append("</svg>").toString
  }

  private def bodyHtml(m: graft.core.Model): String = m.body match {
    case SqlBody(sql)    => s"<pre>${esc(sql.trim)}</pre>"
    case SeedBody(path)  => s"<p>SEED model — csv at <code>${esc(path)}</code></p>"
    case ScalaBody(_)    => "<p>Scala-defined model (DataFrame function)</p>"
  }

  /** The full standalone page. */
  def html(ctx: GraftContext): String = {
    val models = ctx.allModels
    val dag = ModelDag.withExternals(models.values)
    val downstream: Map[String, Seq[String]] = models.values.toSeq
      .flatMap(m => m.references.map(_ -> m.name)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    val rows = models.values.toSeq.sortBy(_.name).map { m =>
      val tags = if (m.tags.isEmpty) "" else m.tags.mkString(", ")
      s"""<tr class="mrow" data-k="${esc((m.name + " " + m.kind.name + " " +
           m.owner.getOrElse("") + " " + tags).toLowerCase)}">
         |<td><a href="#m-${esc(m.name)}">${esc(m.name)}</a></td>
         |<td>${esc(m.kind.name)}</td><td>${esc(m.cron)}</td>
         |<td>${esc(m.owner.getOrElse(""))}</td><td>${esc(tags)}</td>
         |<td>${m.audits.size}</td></tr>""".stripMargin
    }.mkString("\n")
    val details = models.values.toSeq.sortBy(_.name).map { m =>
      // column-level lineage needs the upstream physical tables resolvable
      // (plan applied); on an unplanned project the section is omitted
      val lineage = try ctx.columnLineage(m.name).toSeq.sortBy(_._1)
        catch { case _: Exception => Nil }
      val lineageHtml =
        if (lineage.isEmpty) ""
        else "<h4>Column lineage</h4><table><tr><th>column</th><th>derives from</th></tr>" +
          lineage.map { case (c, ups) =>
            val src = if (ups.isEmpty) "<em>(constant)</em>"
                      else ups.toSeq.sorted.map(u => s"<code>${esc(u)}</code>").mkString(", ")
            s"<tr><td>${esc(c)}</td><td>$src</td></tr>"
          }.mkString + "</table>"
      val cols =
        if (m.columns.isEmpty) ""
        else "<h4>Columns</h4><table><tr><th>name</th><th>type</th></tr>" +
          m.columns.map { case (n, t) => s"<tr><td>${esc(n)}</td><td>${esc(t)}</td></tr>" }
            .mkString + "</table>"
      val audits =
        if (m.audits.isEmpty) ""
        else "<h4>Audits</h4><ul>" + m.audits.map { case (n, args) =>
          val a = if (args.isEmpty) "" else args.map { case (k, v) => s"$k=$v" }
            .mkString(" (", ", ", ")")
          s"<li>${esc(n + a)}</li>"
        }.mkString + "</ul>"
      val ups = dag.parents(m.name).toSeq.sorted
      val downs = downstream.getOrElse(m.name, Nil)
      s"""<details id="m-${esc(m.name)}"><summary><code>${esc(m.name)}</code>
         | — ${esc(m.kind.name)}${m.description.map(d => ": " + esc(d)).getOrElse("")}</summary>
         |<p>cron <code>${esc(m.cron)}</code>${m.owner.map(o => s" · owner ${esc(o)}").getOrElse("")}
         |${if (m.partitionedBy.isEmpty) "" else " · partitioned by " + esc(m.partitionedBy.mkString(", "))}</p>
         |${if (ups.isEmpty) "" else "<p>upstream: " + ups.map(u => s"<code>${esc(u)}</code>").mkString(", ") + "</p>"}
         |${if (downs.isEmpty) "" else "<p>downstream: " + downs.map(d => s"<code>${esc(d)}</code>").mkString(", ") + "</p>"}
         |$cols$lineageHtml$audits<h4>Definition</h4>${bodyHtml(m)}</details>""".stripMargin
    }.mkString("\n")
    val envs = ctx.environments.sortBy(_.name).map { e =>
      s"<tr><td>${esc(e.name)}</td><td>${e.snapshots.size}</td>" +
        s"<td>${if (e.finalized) "finalized" else "pending"}</td></tr>"
    }.mkString
    val lastRun = ctx.lastRunReport.map { case (name, iv, ms) =>
      s"<tr><td>${esc(name)}</td><td>${esc(iv.toString)}</td><td>$ms ms</td></tr>"
    }.mkString
    s"""<!doctype html>
       |<html><head><meta charset="utf-8"><title>graft project docs</title>
       |<style>
       |body{font-family:system-ui,sans-serif;margin:24px;color:#1f2430}
       |table{border-collapse:collapse;margin:8px 0}
       |td,th{border:1px solid #d4d9e2;padding:4px 10px;font-size:13px;text-align:left}
       |pre{background:#f4f6fa;padding:10px;overflow-x:auto;font-size:12px}
       |details{margin:6px 0;border:1px solid #d4d9e2;border-radius:6px;padding:6px 12px}
       |summary{cursor:pointer;font-size:14px}
       |input{padding:6px;font-size:13px;width:320px;margin:8px 0}
       |.dag{overflow-x:auto;border:1px solid #d4d9e2;border-radius:6px;padding:8px}
       |h1,h2{font-weight:600}
       |</style></head><body>
       |<h1>graft project</h1>
       |<p>${models.size} models · ${ctx.externalRelations.size} externals ·
       |${ctx.standaloneAuditNames.size} standalone audits ·
       |${ctx.environments.size} environments</p>
       |<h2>Lineage</h2><div class="dag">${dagSvg(models, dag)}</div>
       |<h2>Models</h2>
       |<input id="q" placeholder="filter by name / kind / owner / tag" oninput="
       |  var q=this.value.toLowerCase();
       |  document.querySelectorAll('.mrow').forEach(function(r){
       |    r.style.display = r.dataset.k.indexOf(q) >= 0 ? '' : 'none';});">
       |<table><tr><th>model</th><th>kind</th><th>cron</th><th>owner</th>
       |<th>tags</th><th>audits</th></tr>
       |$rows</table>
       |<h2>Detail</h2>
       |$details
       |${if (envs.isEmpty) "" else s"<h2>Environments</h2><table><tr><th>name</th><th>models</th><th>status</th></tr>$envs</table>"}
       |${if (lastRun.isEmpty) "" else s"<h2>Last run</h2><table><tr><th>model</th><th>interval</th><th>duration</th></tr>$lastRun</table>"}
       |</body></html>""".stripMargin
  }
}
