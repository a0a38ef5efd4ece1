package graft.pipeline

import org.apache.spark.sql.DataFrame

import graft.analyze.Findings

/** HTML findings report (SURVEY §2.4 A5/A11, §2.6 T2; reference
  * src/audit/reporting/html_report.py:100-460): executive-summary card
  * grid, fixed-order severity cards (critical→info, zero-filled),
  * domain cards, per-collector inventory cards, pipeline-step status
  * table, and the severity/domain-ordered findings table. All
  * aggregation happens in Spark; only final small rollups collect.
  */
object HtmlReport {

  /** Fixed display orders (html_report.py `_SEVERITY_ORDER` /
    * `_DOMAIN_ORDER`): cards render every severity, zero-filled, so a
    * clean report still shows the full grid.
    */
  private val severityOrder = Seq("critical", "high", "medium", "low", "info")
  private val domainOrder =
    Seq("process", "network", "persistence", "malware", "filesystem", "system")

  /** One inventory card: (value, label, sublabel) — e.g. connection
    * counts render as `("42", "Connections", "3L/8E")`
    * (html_report.py:349-409).
    */
  final case class InventoryCard(value: String, label: String, sublabel: String = "")

  private def esc(s: String): String =
    Option(s).getOrElse("")
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      // values land in attribute context too (class="sev-..."): quotes
      // must not break out of the attribute
      .replace("\"", "&quot;").replace("'", "&#39;")

  private def card(value: String, label: String, cls: String = ""): String =
    s"""<div class="card $cls"><div class="n">${esc(value)}</div><div class="l">${esc(label)}</div></div>"""

  /** One "Top <metric> Users" table: (label, rows of (name, pid,
    * formatted value, path)) — html_report.py:209-287.
    */
  final case class ResourceTable(label: String, rows: Seq[(String, Long, String, String)])

  /** Baseline Comparison section (html_report.py
    * `_section_baseline_diff`): first-run notice, "no changes"
    * pass-text, or the per-category added/removed table. `rows` are
    * (category, added, removed).
    */
  final case class BaselineSection(firstRun: Boolean, rows: Seq[(String, Long, Long)]) {
    def totalChanges: Long = rows.map(r => r._2 + r._3).sum
  }

  /** Adapter from the [[graft.analyze.BaselineDiff.summary]] rollup
    * (category, change_type, count) — category-dimension-sized collect.
    */
  def baselineFrom(summary: DataFrame): BaselineSection = {
    val m = summary.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cats = m.keys.map(_._1).toSeq.distinct.sorted
    BaselineSection(firstRun = false,
      cats.map(c => (c, m.getOrElse((c, "added"), 0L), m.getOrElse((c, "removed"), 0L))))
  }

  /** The section from two FINDINGS frames — the shape the CLI report
    * paths feed it: previous scan absent → first-run notice; otherwise
    * per-domain added/removed keyed by (title, resource) through the
    * [[graft.analyze.BaselineDiff]] machinery (domain list is
    * dimension-sized; the diffs union into ONE plan, one collect).
    */
  def findingsBaseline(current: DataFrame, previous: Option[DataFrame]): BaselineSection =
    previous match {
      case None => BaselineSection(firstRun = true, Nil)
      case Some(prev) =>
        import org.apache.spark.sql.functions.col
        val domains = current.select("domain").unionByName(prev.select("domain"))
          .distinct().collect().map(_.getString(0)).filter(_ != null).toSeq.sorted
        if (domains.isEmpty) BaselineSection(firstRun = false, Nil)
        else baselineFrom(graft.analyze.BaselineDiff.summary(domains.map { dm =>
          graft.analyze.BaselineDiff.diff(
            current.filter(col("domain") === dm),
            prev.filter(col("domain") === dm),
            Seq("title", "resource"), dm)
        }))
    }

  /** Resource tables from a process frame via the analyzer's top-N
    * (one tiny collect per metric; ranking runs in Spark).
    */
  def resourceTables(
      procs: DataFrame,
      metrics: Seq[(String, String)] = Seq(
        ("ram_mb", "Top RAM Users"), ("thread_count", "Top Thread Users"),
        ("handle_count", "Top Handle Users")),
      n: Int = 5): Seq[ResourceTable] =
    metrics.map { case (metric, label) =>
      import org.apache.spark.sql.functions.col
      // defensive casts: a test-built frame may carry int pids or
      // non-string names — positional getLong/getString would CCE
      val top = graft.analyze.ResourceAnalyzer.topBy(procs, metric, n)
        .select(
          col("name").cast("string"), col("pid").cast("long"),
          col(metric), col("path").cast("string"))
        .collect()
        .map { r =>
          val v = r.get(2) match {
            case d: java.lang.Double => f"$d%.0f MB"
            case x => String.valueOf(x)
          }
          // name gets the same null guard as path: a null proc name would
          // otherwise flow into the HTML row as the literal "null"
          (Option(r.getString(0)).getOrElse(""), r.getLong(1), v,
            Option(r.getString(3)).getOrElse(""))
        }
      ResourceTable(label, top.toSeq)
    }

  def render(
      findings: DataFrame,
      title: String,
      topN: Int = 100,
      inventory: Seq[InventoryCard] = Nil,
      steps: Seq[Pipeline.StageResult] = Nil,
      resources: Seq[ResourceTable] = Nil,
      baseline: Option[BaselineSection] = None): String = {
    val sevCounts = Findings.severityCounts(findings).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val domCounts = Findings.domainCounts(findings).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = sevCounts.values.sum
    val top = Findings.topFindings(findings, topN)
      .select("severity", "domain", "title", "resource", "source").collect()

    // severity cards: EVERY severity in fixed order, zero-filled
    val sevCards = severityOrder.map(s =>
      card(sevCounts.getOrElse(s, 0L).toString, s.toUpperCase, s"sev-$s")).mkString("\n")
    // domain cards: known domains in reference order, then any extras
    val extraDomains = (domCounts.keySet -- domainOrder).toSeq.sorted
    val domCards = (domainOrder.filter(domCounts.contains) ++ extraDomains)
      .map(d => card(domCounts(d).toString, d.toUpperCase, s"dom-$d")).mkString("\n")

    val summaryCards = {
      val status = if (steps.exists(_.status == "failed")) "FAILED" else "COMPLETED"
      val statusCls = if (status == "COMPLETED") "pass" else "fail"
      Seq(
        card(status, "Pipeline Status", statusCls),
        card(total.toString, "Total Findings"),
        card(if (steps.isEmpty) "—" else f"${steps.map(_.durationSec).sum}%.1fs", "Duration"),
        card(steps.size.toString, "Steps")).mkString("\n")
    }

    val inventorySection =
      if (inventory.isEmpty) ""
      else {
        val cards = inventory.map { c =>
          val sub = if (c.sublabel.isEmpty) "" else s" (${esc(c.sublabel)})"
          s"""<div class="card"><div class="n">${esc(c.value)}</div><div class="l">${esc(c.label)}$sub</div></div>"""
        }.mkString("\n")
        s"""<h2>System Inventory</h2>\n<div class="cards">$cards</div>"""
      }

    val resourceSection =
      if (resources.isEmpty) ""
      else {
        val tables = resources.map { t =>
          val rows = t.rows.map { case (name, pid, v, path) =>
            s"<tr><td>${esc(name)}</td><td>$pid</td><td>${esc(v)}</td><td>${esc(path)}</td></tr>"
          }.mkString("\n")
          s"""<h3>${esc(t.label)}</h3>
             |<table><tr><th>process</th><th>pid</th><th>value</th><th>path</th></tr>
             |$rows</table>""".stripMargin
        }.mkString("\n")
        s"<h2>Top Resource Users</h2>\n$tables"
      }

    val stepsSection =
      if (steps.isEmpty) ""
      else {
        val rows = steps.map { s =>
          val cls = s.status match {
            case "completed" => "pass"; case "failed" => "fail"; case _ => "skip"
          }
          f"""<tr><td>${esc(s.name)}</td><td class="$cls">${esc(s.status)}</td>""" +
            f"""<td>${s.durationSec}%.1fs</td><td>${esc(s.error.getOrElse(""))}</td></tr>"""
        }.mkString("\n")
        s"""<h2>Pipeline Steps</h2>
           |<table><tr><th>step</th><th>status</th><th>duration</th><th>error</th></tr>
           |$rows</table>""".stripMargin
      }

    val baselineSection = baseline.fold("") { b =>
      val body =
        if (b.firstRun)
          "<p>First run — current scan saved as baseline. Changes will appear on subsequent runs.</p>"
        else if (b.totalChanges == 0)
          """<p class="pass">No changes detected since last baseline.</p>"""
        else {
          val rows = b.rows.map { case (cat, add, rem) =>
            s"""<tr><td>${esc(cat)}</td><td class="pass">+$add</td><td class="fail">-$rem</td></tr>"""
          }.mkString("\n")
          s"""<p>${b.totalChanges} change(s) detected since last baseline.</p>
             |<table><tr><th>category</th><th>added</th><th>removed</th></tr>
             |$rows</table>""".stripMargin
        }
      s"<h2>Baseline Comparison</h2>\n$body"
    }

    val rows = top.map { r =>
      val cells = (0 until 5).map(i => s"<td>${esc(r.getString(i))}</td>").mkString
      s"<tr class=\"sev-${esc(r.getString(0))}\">$cells</tr>"
    }.mkString("\n")

    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |body{font-family:sans-serif;margin:2em}
       |.cards{display:flex;gap:1em;flex-wrap:wrap}
       |.card{padding:1em;border-radius:8px;background:#eee;min-width:6em;text-align:center}
       |.card .n{font-size:2em;font-weight:bold}
       |.sev-critical{background:#fdd}.sev-high{background:#fed}.sev-medium{background:#ffd}
       |.sev-low{background:#eef}.sev-info{background:#efe}
       |.pass{color:#166534}.fail{color:#991b1b}.skip{color:#6b7280}
       |table{border-collapse:collapse;margin-top:1em}
       |td,th{border:1px solid #ccc;padding:4px 8px;text-align:left}
       |</style></head><body>
       |<h1>${esc(title)}</h1>
       |<h2>Executive Summary</h2>
       |<div class="cards">$summaryCards</div>
       |<h3>Findings by Severity</h3>
       |<div class="cards">$sevCards</div>
       |<h3>Findings by Domain</h3>
       |<div class="cards">$domCards</div>
       |$inventorySection
       |$resourceSection
       |$stepsSection
       |$baselineSection
       |<h2>Top findings</h2>
       |<table><tr><th>severity</th><th>domain</th><th>title</th><th>resource</th><th>source</th></tr>
       |$rows
       |</table></body></html>""".stripMargin
  }

  /** Inventory cards from collector frames, mirroring
    * html_report.py:349-409 (counts + listen/established and
    * task/run-key splits) — aggregation runs in Spark, one tiny
    * collect per card.
    */
  def inventoryFrom(
      processes: Option[DataFrame] = None,
      services: Option[DataFrame] = None,
      connections: Option[DataFrame] = None,
      tasks: Option[DataFrame] = None,
      runKeys: Option[DataFrame] = None): Seq[InventoryCard] = {
    import org.apache.spark.sql.functions._
    val proc = processes.map(p => InventoryCard(p.count().toString, "Processes"))
    val svc = services.map(s => InventoryCard(s.count().toString, "Services"))
    val net = connections.map { c =>
      val agg = c.agg(
        count(lit(1)).as("n"),
        count_if(col("state") === "Listen").as("l"),
        count_if(col("state") === "Established").as("e")).head()
      InventoryCard(agg.getLong(0).toString, "Connections", s"${agg.getLong(1)}L/${agg.getLong(2)}E")
    }
    val persist = (tasks, runKeys) match {
      case (None, None) => None
      case (t, k) =>
        val tc = t.map(_.count()).getOrElse(0L)
        val kc = k.map(_.count()).getOrElse(0L)
        Some(InventoryCard((tc + kc).toString, "Persistence", s"${tc}T/${kc}K"))
    }
    Seq(proc, svc, net, persist).flatten
  }

  /** Inventory cards for the persisted-index lifecycle — occupancy and
    * live-cell split from an ANN index's codebook sidecar, corpus
    * scalars and bucket count from a lex index's stats sidecar (plus
    * the indexed-empty membership count). The
    * build/add/remove/compact verbs become OBSERVABLE on the same
    * report surface as the collector inventory. All reads are bounded
    * (codebook ≤ nlist rows, stats 1 row, membership an id-only
    * frame); the postings/base lakes are never scanned.
    */
  def indexInventory(
      spark: org.apache.spark.sql.SparkSession,
      annIndexes: Seq[(String, String)] = Nil,
      lexIndexes: Seq[(String, String)] = Nil): Seq[InventoryCard] = {
    val ann = annIndexes.map { case (label, path) =>
      val o = graft.operators.Ann.indexOccupancy(spark, path)
      InventoryCard(o.occupancy.toString, label,
        s"${o.liveCells}/${o.cells} cells live")
    }
    val lex = lexIndexes.map { case (label, path) =>
      val st = graft.operators.Bm25.lexIndexStats(spark, path)
      InventoryCard(st.nDocs.toString, label,
        s"${st.totalTokens} tokens · ${st.nBuckets} buckets · ${st.indexedEmpty} empty")
    }
    ann ++ lex
  }

  def write(findings: DataFrame, title: String, path: String, topN: Int = 100,
      inventory: Seq[InventoryCard] = Nil, steps: Seq[Pipeline.StageResult] = Nil,
      resources: Seq[ResourceTable] = Nil, baseline: Option[BaselineSection] = None): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path),
      render(findings, title, topN, inventory, steps, resources, baseline))
}
