package graft.serve

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.analyze.Findings
import graft.pipeline.{HtmlReport, Pipeline, ResultStore}

/** S15 — the reference's HTTP monitoring + audit read surface
  * (/root/reference/src/monitoring.py:29-78,
  * /root/reference/src/audit/monitor.py:20-191), rebuilt on the JDK's
  * built-in [[com.sun.net.httpserver.HttpServer]] — zero added
  * dependencies, same endpoint contract:
  *
  *   GET  /health                         — liveness
  *   GET  /metrics                        — system + job + codegen metrics + history tail
  *   GET  /jobs                           — ETL job history (last 50) + scheduled jobs
  *   GET  /events                         — filesystem events (last 100)
  *   GET  /status                         — agent status + uptime + both metric blocks
  *   GET  /audit/tools                    — audit-tool availability
  *   GET  /audit/scans?limit=             — recent pipeline scan results
  *   GET  /audit/findings?limit=&severity=&domain= — filtered findings
  *   POST /audit/process-scan?report=     — run the scan pipeline (+ HTML report)
  *
  * Beyond the reference, the engine's persisted retrieval indexes serve
  * over the same surface (pruned Spark plans per request, see
  * `searchRoute`):
  *
  *   GET  /search/lexical?q=&k=           — BM25 top-k from the lex index
  *   GET  /search/phrase?q=&k=            — exact phrase from the positional postings
  *   GET  /search/ann?vec=&k=&nprobe=     — IVF ANN from the vector index
  *   GET  /search/hybrid?q=&vec=&k=       — RRF fusion of both indexes
  *   POST /search/<kind>                  — same verbs over a query BATCH
  *        ({"queries":[{"id","q","vec"},…]}, ≤500) through ONE Spark plan
  *   GET  /index/stats                    — index lifecycle state from the sidecars
  *
  * What a search request costs: the index sidecars (BM25 stats, IVF
  * codebook, PQ tables, SQ8 stats) and each lake's schema are RESIDENT
  * per index generation ([[graft.operators.SidecarMemo]]: the
  * sidecar's file listing is the generation, and every mutating verb
  * rewrites it), so a request pays one metadata listing per sidecar
  * instead of Spark jobs to read it;
  * the postings/base leaves a request probes are opened by path and
  * listed on every request ([[graft.operators.Leaves]]), so appends,
  * removals and compactions are visible to the next query, and the
  * crash guard (no parked swap tree beside the lake or the index root,
  * [[graft.etl.Compact.requireIndexServable]]) runs per request.
  * The query batch is collected once on the driver, where the ANN
  * probe cells are also ranked, so a request runs only the data
  * stages of its scoring plan: on a small index 5 Spark jobs for a
  * lexical GET or batch, 5 for phrase, 3 for ann and 7 for hybrid
  * (ServeSpec pins them). Every Spark job a search request launches
  * carries the job description `search.<kind>`.
  *
  * Serving discipline at scale: every endpoint that touches DATA goes
  * through a Spark plan with the limit/filter PUSHED INTO the plan
  * before a bounded collect — `/audit/findings` is
  * [[graft.analyze.Findings.where]] + `.limit(n≤500)` (predicate
  * pushdown + TakeOrderedAndProject on a parquet-backed findings lake),
  * never a full collect filtered on the driver (the reference loads
  * `limit*2` rows into Python and filters there,
  * audit/monitor.py:99-110). Registry endpoints (/jobs, /events,
  * /audit/scans) read bounded in-memory driver state, exactly like the
  * reference's in-process histories (monitoring.py:36-40).
  */
object HttpApi {

  /** Reference ETLJob surface for /jobs + job metrics
    * (monitoring.py:22-27, 108-124).
    */
  final case class JobRecord(
      jobId: String,
      name: String,
      status: String, // running | completed | failed
      startedAtMillis: Long,
      completedAtMillis: Option[Long])

  final case class ScheduledJobRecord(name: String, schedule: String, enabled: Boolean)

  /** Reference ToolInfo for /audit/tools (audit/monitor.py:25-40). */
  final case class AuditTool(
      name: String,
      displayName: String,
      installed: Boolean,
      path: Option[String],
      requiresAdmin: Boolean = false,
      license: String = "",
      installMethod: String = "")

  /** Scan-history row for /audit/scans (audit/monitor.py:42-91). */
  final case class ScanRecord(
      pipelineId: String,
      pipelineName: String,
      status: String,
      startedAtMillis: Long,
      completedAtMillis: Long,
      totalFindings: Long,
      criticalFindings: Long,
      highFindings: Long,
      stages: Seq[Pipeline.StageResult])

  /** A process-scan run: the staged pipeline result plus the findings
    * frame its analyzer stage produced (the reference's
    * create_process_scan_pipeline, audit/monitor.py:133-137).
    */
  type ScanRunner = SparkSession => (Pipeline.RunResult, DataFrame)

  private[serve] def jvalue(v: Any): JValue = v match {
    case null                => JNull
    case s: String           => JString(s)
    case b: Boolean          => JBool(b)
    case i: Int              => JInt(BigInt(i))
    case l: Long             => JLong(l)
    case d: Double           => JDouble(d)
    case f: Float            => JDouble(f.toDouble)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case t: java.sql.Timestamp   => JString(t.toInstant.toString)
    case d: java.sql.Date        => JString(d.toString)
    case seq: scala.collection.Seq[_] => JArray(seq.map(jvalue).toList)
    case m: scala.collection.Map[_, _] =>
      JObject(m.map { case (k, x) => k.toString -> jvalue(x) }.toList)
    case r: Row =>
      JObject(r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> jvalue(r.get(i)) }.toList)
    case other => JString(other.toString)
  }

  /** Bounded frame → JSON rows. The caller must have already pushed the
    * limit into `df`'s plan; this just converts the ≤limit collected rows.
    */
  private[serve] def rowsJson(df: DataFrame): JValue =
    JArray(df.collect().toList.map(jvalue))
}

final class HttpApi(
    spark: SparkSession,
    findings: () => DataFrame,
    auditTools: Seq[HttpApi.AuditTool] = Nil,
    processScan: Option[HttpApi.ScanRunner] = None,
    resultStore: Option[(String, String)] = None, // (dir, prefix) for persisted scan sets
    mcpTools: Option[Mcp.Tools] = None,
    reportDir: Option[String] = None,
    lexIndexPath: Option[String] = None, // persisted Bm25 lex index → /search/lexical, /search/phrase
    annIndexPath: Option[String] = None) { // persisted IVF index → /search/ann (+ /search/hybrid with lex)

  import HttpApi._

  private val startMillis = System.currentTimeMillis()
  private val jobHistory = ArrayBuffer.empty[JobRecord]
  private val scheduled = ArrayBuffer.empty[ScheduledJobRecord]
  private val scanHistory = ArrayBuffer.empty[ScanRecord]
  private val metricsHistory = ArrayBuffer.empty[JValue]
  private var server: Option[HttpServer] = None
  private var executor: Option[java.util.concurrent.ExecutorService] = None

  // registries are CAPPED (newest kept) — the reference keeps
  // unbounded Python lists (monitoring.py:36-40), a slow heap leak in
  // a long-running server; /jobs and /audit/scans serve tails anyway
  private val MaxJobHistory = 1000
  private val MaxScanHistory = 200

  /** Take one system-metrics sample into the bounded history — the
    * scheduler-driven twin of the reference's periodic
    * `_collect_metrics` task (monitoring.py:60-78), for callers
    * (AgentRuntime) that sample on a cadence rather than per request.
    */
  def sampleMetrics(): Unit = { systemMetrics(): Unit }

  def registerJob(j: JobRecord): Unit = jobHistory.synchronized {
    jobHistory += j
    if (jobHistory.size > MaxJobHistory) jobHistory.remove(0, jobHistory.size - MaxJobHistory)
  }
  def registerScheduled(j: ScheduledJobRecord): Unit = scheduled.synchronized { scheduled += j }
  def registerScan(s: ScanRecord): Unit = scanHistory.synchronized {
    scanHistory += s
    if (scanHistory.size > MaxScanHistory) scanHistory.remove(0, scanHistory.size - MaxScanHistory)
  }

  // ------------------------------------------------------------- metrics

  /** monitoring.py:80-106 — psutil twin from the JDK management beans;
    * sampled on request (the tail history keeps the last 100 samples,
    * matching the reference's `metrics_history[-100:]` window).
    */
  private def systemMetrics(): JValue = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val cpu = os match {
      case b: com.sun.management.OperatingSystemMXBean => b.getCpuLoad * 100.0
      case _ => os.getSystemLoadAverage
    }
    val (memTotal, memFree) = os match {
      case b: com.sun.management.OperatingSystemMXBean =>
        (b.getTotalMemorySize, b.getFreeMemorySize)
      case _ => (Runtime.getRuntime.maxMemory, Runtime.getRuntime.freeMemory)
    }
    val memPct = if (memTotal > 0) (memTotal - memFree).toDouble / memTotal * 100.0 else 0.0
    val disks = JObject(java.io.File.listRoots().toList.map { root =>
      val total = root.getTotalSpace
      val free = root.getFreeSpace
      root.getPath -> (JObject(
        "total" -> JLong(total),
        "used" -> JLong(total - free),
        "free" -> JLong(free),
        "percent" -> JDouble(if (total > 0) (total - free).toDouble / total * 100.0 else 0.0)): JValue)
    })
    val m = JObject(
      "timestamp" -> JString(Instant.now.toString),
      // getCpuLoad/getSystemLoadAverage signal "unavailable" with -1
      // (first sample, cgroup-restricted container) — clamp, never emit
      // a negative percentage to dashboards expecting 0-100
      "cpu_percent" -> JDouble(if (cpu.isNaN || cpu < 0) 0.0 else cpu),
      "memory_percent" -> JDouble(memPct),
      "disk_usage" -> disks)
    metricsHistory.synchronized {
      metricsHistory += m
      if (metricsHistory.size > 100) metricsHistory.remove(0, metricsHistory.size - 100)
    }
    m
  }

  /** Spark code generation in this JVM so far: classes compiled (cache
    * misses of the generated-class cache) and the total compile time.
    * A warm served request adds nothing to either, unless adaptive
    * execution numbered a warm plan's codegen stages anew (the number
    * is part of the generated source); otherwise a request that adds
    * to them compiled a plan shape the cache did not hold.
    */
  private def codegenMetrics(): JValue = {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // CodeGenerator sizes its class cache from the SQL conf of the
    // thread that first touches it, and a handler thread has no active
    // session (it would get Spark's default size): read it only once a
    // compile has initialized it
    JObject(
      "compiled_classes" -> JLong(compiled),
      "compile_ms" -> JDouble(if (compiled == 0) 0.0 else CodeGenerator.compileTime / 1e6))
  }

  /** monitoring.py:108-131 — counts + average completed duration. */
  private def jobMetrics(): JValue = {
    val jobs = jobHistory.synchronized(jobHistory.toVector)
    val done = jobs.filter(_.status == "completed")
    // average over jobs that actually HAVE a duration (reference
    // monitoring.py:118-124 divides by len(completed_job_durations)) —
    // a completed job missing its end timestamp must not drag the mean
    val durations = done.flatMap(j => j.completedAtMillis.map(c => (c - j.startedAtMillis) / 1000.0))
    val avg = if (durations.isEmpty) 0.0 else durations.sum / durations.size
    JObject(
      "total_jobs" -> JInt(jobs.size),
      "running_jobs" -> JInt(jobs.count(_.status == "running")),
      "completed_jobs" -> JInt(done.size),
      "failed_jobs" -> JInt(jobs.count(_.status == "failed")),
      "average_duration" -> JDouble(avg))
  }

  private def jobJson(j: JobRecord): JValue = JObject(
    "job_id" -> JString(j.jobId),
    "name" -> JString(j.name),
    "status" -> JString(j.status),
    "started_at" -> JString(Instant.ofEpochMilli(j.startedAtMillis).toString),
    "completed_at" -> j.completedAtMillis.map(m => JString(Instant.ofEpochMilli(m).toString): JValue).getOrElse(JNull))

  private def scanJson(s: ScanRecord): JValue = JObject(
    "pipeline_id" -> JString(s.pipelineId),
    "pipeline_name" -> JString(s.pipelineName),
    "status" -> JString(s.status),
    "started_at" -> JString(Instant.ofEpochMilli(s.startedAtMillis).toString),
    "completed_at" -> JString(Instant.ofEpochMilli(s.completedAtMillis).toString),
    "duration_seconds" -> JDouble((s.completedAtMillis - s.startedAtMillis) / 1000.0),
    "total_findings" -> JLong(s.totalFindings),
    "critical_findings" -> JLong(s.criticalFindings),
    "high_findings" -> JLong(s.highFindings),
    "stages" -> JArray(s.stages.toList.map(st => JObject(
      "name" -> JString(st.name),
      "status" -> JString(st.status),
      "error" -> st.error.map(JString(_): JValue).getOrElse(JNull),
      "duration_seconds" -> JDouble(st.durationSec)))))

  // ------------------------------------------------------------- handlers

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map {
      _.split('&').toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
          case Array(k) if k.nonEmpty => Some(k -> "")
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  private def send(ex: HttpExchange, code: Int, body: JValue): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(body)).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** com.sun HttpServer contexts match by PREFIX — without an exact
    * check, GET /healthzzz answers healthy and a typo'd POST
    * /audit/process-scan-test launches a real scan. Every route except
    * the "/" catch-all therefore verifies the path matches exactly.
    */
  private def handler(exactPath: String)(route: HttpExchange => (Int, JValue)): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      try {
        val path = ex.getRequestURI.getPath
        val (code, body) =
          if (exactPath != "/" && path != exactPath)
            (404, JObject("error" -> JString(s"not found: $path")))
          else route(ex)
        send(ex, code, body)
      } catch {
        case NonFatal(e) =>
          try send(ex, 500, JObject("error" -> JString(String.valueOf(e.getMessage))))
          catch { case NonFatal(_) => () }
      }

  /** audit/monitor.py:92-131 — findings filtered by severity/domain with
    * the limit INSIDE the Spark plan (clamped to the reference's le=500).
    */
  private def findingsRoute(ex: HttpExchange): (Int, JValue) = {
    val q = query(ex)
    val limit = math.min(math.max(q.get("limit").flatMap(_.toIntOption).getOrElse(50), 1), 500)
    val filtered = Findings.where(findings(), q.get("severity"), q.get("domain"))
    val out = Findings.topFindings(filtered, limit)
    val rows = rowsJson(out)
    (200, JObject("findings" -> rows, "count" -> JInt(rows.asInstanceOf[JArray].arr.size)))
  }

  private def scansRoute(ex: HttpExchange): (Int, JValue) = {
    val q = query(ex)
    val limit = math.min(math.max(q.get("limit").flatMap(_.toIntOption).getOrElse(10), 1), 100)
    val recent = scanHistory.synchronized(scanHistory.toVector).reverse.take(limit)
    val persisted = resultStore.map { case (dir, prefix) =>
      ResultStore.list(dir, prefix).take(limit).map(JString(_): JValue)
    }.getOrElse(Nil)
    (200, JObject(
      "scans" -> JArray(recent.toList.map(scanJson)),
      "count" -> JInt(recent.size),
      "persisted_sets" -> JArray(persisted.toList)))
  }

  private def processScanRoute(ex: HttpExchange): (Int, JValue) =
    (ex.getRequestMethod, processScan) match {
      case (m, _) if m != "POST" =>
        (405, JObject("error" -> JString("POST required")))
      case (_, None) =>
        (503, JObject("error" -> JString("no scan pipeline configured")))
      case (_, Some(runner)) => runProcessScan(ex, runner)
    }

  private def runProcessScan(ex: HttpExchange, runner: ScanRunner): (Int, JValue) = {
    val wantReport = query(ex).get("report").forall(_.toLowerCase != "false")
    val t0 = System.currentTimeMillis()
    val (run, fdf) = runner(spark)
    // one bounded agg over the findings frame: total + per-severity
    val sev = Findings.severityCounts(fdf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = sev.values.sum
    val t1 = System.currentTimeMillis()
    val rec = ScanRecord(
      pipelineId = s"scan_$t1",
      pipelineName = "process_scan",
      status = if (run.failed) "failed" else "completed",
      startedAtMillis = t0, completedAtMillis = t1,
      totalFindings = total,
      criticalFindings = sev.getOrElse("critical", 0L),
      highFindings = sev.getOrElse("high", 0L),
      stages = run.stages)
    registerScan(rec)
    val reportPath = if (wantReport) reportDir.map { dir =>
      val p = s"$dir/report_$t1.html"
      HtmlReport.write(fdf, "Process Scan", p)
      p
    } else None
    val base = scanJson(rec).asInstanceOf[JObject]
    (200, reportPath.map(p => base ~ ("report_path" -> JString(p))).getOrElse(base))
  }

  private implicit class JObjOps(o: JObject) {
    def ~(kv: (String, JValue)): JObject = JObject(o.obj :+ kv)
  }

  // ------------------------------------------------------------- search

  /** Retrieval serving over the PERSISTED indexes — the deployment shape
    * the index lifecycle verbs exist for. Each request becomes a one-row
    * query frame through the same bucket-/cell-pruned plans the batch
    * paths use ([[graft.operators.Bm25.queryLexIndex]] /
    * [[graft.operators.Ann.queryIvfIndex]] /
    * [[graft.operators.Fusion.hybridTopK]]), so a served query reads
    * only the postings buckets its vocabulary hashes into / the nprobe
    * nearest cells — never the whole lake. The embedding arrives as a
    * comma-separated float vector (`vec=`); embedding text server-side
    * is a model concern outside this engine.
    */
  private def searchRoute(kind: String)(ex: HttpExchange): (Int, JValue) = {
    // every Spark job of the request carries `search.<kind>` as its
    // description (the job GROUP is left to callers that attribute by
    // group); the handler thread's previous value is restored after
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"search.$kind")
    // the served verbs cache nothing (each collects its bounded query
    // batch on the driver), so a request leaves no frame in the block
    // manager and needs no unpersisting scope
    try searchRouteImpl(kind, ex)
    finally sc.setJobDescription(prevDesc) // null clears it
  }

  private final case class SearchQ(id: Long, text: Option[String], vec: Option[Array[Float]])

  /** A query vector must be finite: NaN passes the norm > 0 filter
    * (every NaN comparison in Spark SQL orders NaN above all numbers)
    * and would be served as arbitrary ranks with "NaN" sims.
    */
  private def finiteVec(what: String, v: Array[Float]): Either[String, Array[Float]] =
    if (v.forall(java.lang.Float.isFinite)) Right(v)
    else Left(s"$what must hold finite numbers (no NaN or Infinity)")

  private def parseVecStr(s: String): Either[String, Array[Float]] = {
    val parts = s.split(',').map(_.trim.toFloatOption)
    if (parts.nonEmpty && parts.forall(_.isDefined)) finiteVec("query 0 vec", parts.map(_.get))
    else Left("vec must be comma-separated floats")
  }

  /** Max accepted POST body — the size guard must run BEFORE the JSON
    * parse (the 500-query cap alone would let one multi-GB body
    * exhaust the driver heap during readAllBytes/AST build, taking
    * down the long-running server the per-request cleanup protects).
    * 16 MB covers 500 queries with multi-thousand-dim vectors.
    */
  private val MaxBatchBodyBytes: Int = 16 * 1024 * 1024

  /** POST body `{"queries":[{"id":1,"q":"...","vec":[...]}, ...]}` —
    * the batch form. `id` defaults to the array index when ABSENT; a
    * present-but-non-integral id (float, string) is a 400, not a
    * silent renumber — the caller demultiplexes by id, so renumbering
    * would read as "no matches" for every misparsed query. Ids must be
    * distinct (the verbs key results by q_id); ≤500 queries per batch.
    */
  private def parseBatchBody(ex: HttpExchange): Either[String, Seq[SearchQ]] = {
    val raw = ex.getRequestBody.readNBytes(MaxBatchBodyBytes + 1)
    if (raw.length > MaxBatchBodyBytes)
      return Left(s"body exceeds $MaxBatchBodyBytes bytes")
    val body = new String(raw, StandardCharsets.UTF_8)
    val parsed =
      try Right(JsonMethods.parse(body))
      catch { case NonFatal(_) => Left("invalid JSON body") }
    parsed.flatMap { j =>
      j \ "queries" match {
        case JArray(qs) if qs.isEmpty => Left("queries must be non-empty")
        case JArray(qs) if qs.size > 500 => Left("at most 500 queries per batch")
        case JArray(qs) =>
          val out = qs.zipWithIndex.map { case (q, i) =>
            val idE: Either[String, Long] = q \ "id" match {
              case JInt(n) => Right(n.toLong)
              case JLong(n) => Right(n)
              case JNothing => Right(i.toLong)
              case other => Left(s"query at index $i has a non-integral id: ${JsonMethods.compact(JsonMethods.render(other))}")
            }
            val text = q \ "q" match {
              case JString(s) if s.nonEmpty => Some(s)
              case _ => None
            }
            idE.flatMap { id =>
              val vec: Either[String, Option[Array[Float]]] = q \ "vec" match {
                case JArray(xs) if xs.isEmpty =>
                  Left(s"query $id vec must be a non-empty array of numbers")
                case JArray(xs) =>
                  val fs = xs.map {
                    case JDouble(d) => Some(d.toFloat)
                    case JInt(n) => Some(n.toFloat)
                    case JLong(n) => Some(n.toFloat)
                    case JDecimal(d) => Some(d.toFloat)
                    case _ => None
                  }
                  if (fs.forall(_.isDefined))
                    finiteVec(s"query $id vec", fs.flatten.toArray).map(Some(_))
                  else Left(s"query $id vec must be an array of numbers")
                case JNothing => Right(None)
                case _ => Left(s"query $id vec must be an array of numbers")
              }
              vec.map(v => SearchQ(id, text, v))
            }
          }
          out.collectFirst { case Left(e) => e }
            .toLeft(out.collect { case Right(q) => q })
            .flatMap { reqs =>
              if (reqs.map(_.id).distinct.size != reqs.size)
                Left("duplicate query ids in batch")
              else Right(reqs)
            }
        case _ => Left("""POST body must be {"queries": [...]}""")
      }
    }
  }

  /** One implementation for both shapes: GET serves a single query
    * from the URL params; POST serves a BATCH through the same ONE
    * Spark plan — the engine's native shape, amortizing per-job
    * overhead across the batch instead of paying it per query.
    */
  private def searchRouteImpl(kind: String, ex: HttpExchange): (Int, JValue) = {
    import org.apache.spark.sql.functions.col
    val sp = spark
    import sp.implicits._
    val params = query(ex)
    val isBatch = ex.getRequestMethod == "POST"
    def intP(name: String, dflt: Int, lo: Int, hi: Int): Int =
      math.min(math.max(params.get(name).flatMap(_.toIntOption).getOrElse(dflt), lo), hi)
    val k = intP("k", 10, 1, 100)
    val nprobe = intP("nprobe", 4, 1, 1 << 20)
    val kPerLeg = intP("k_per_leg", math.max(k * 2, 20), 1, 500)
    // /search/ann?diversify=<m>&lambda=<l>: MMR re-rank of the k
    // candidates down to m diverse results (Mmr.diversify; k becomes
    // the candidate depth). lambda clamps to [0,1], default 0.7.
    // ANN-only by design: hybrid results can include lexical-only
    // docs that have NO embedding in the ANN index, and MMR's
    // diversity penalty is undefined for them — a served re-rank must
    // not silently zero the penalty for half the candidates. Callers
    // wanting diversified hybrid run the ANN leg diversified and fuse
    // client-side, or index embeddings for the full corpus.
    val diversify: Option[(Int, Double)] = params.get("diversify")
      .flatMap(_.toIntOption).map { m =>
        val lam = params.get("lambda").flatMap(_.toDoubleOption).getOrElse(0.7)
        (math.min(math.max(m, 1), k), math.min(math.max(lam, 0.0), 1.0))
      }
    // supplying ?diversify= to a kind that cannot honor it is a 400,
    // not a silent ignore: results that LOOK diversified but aren't
    // contradict the fail-loud contract the rest of the API keeps
    if (diversify.isDefined && kind != "ann")
      return (400, JObject("error" -> JString(
        s"diversify is only supported on /search/ann (got kind=$kind); " +
          "run the ANN leg diversified and fuse client-side")))
    def needLex = lexIndexPath.toRight("no lexical index configured")
    def needAnn = annIndexPath.toRight("no ann index configured")

    // GET parses ?vec= only for the kinds that consume it — a stray or
    // malformed vec param on /search/lexical must not fail a request
    // the verb would answer fine
    val wantsVec = kind == "ann" || kind == "hybrid"
    val reqsE: Either[String, Seq[SearchQ]] =
      if (isBatch) parseBatchBody(ex)
      else params.get("vec").filter(_ => wantsVec).filter(_.nonEmpty) match {
        case Some(s) => parseVecStr(s).map(v =>
          Seq(SearchQ(0L, params.get("q").filter(_.nonEmpty), Some(v))))
        case None => Right(Seq(SearchQ(0L, params.get("q").filter(_.nonEmpty), None)))
      }

    // every query in the batch must carry what the verb consumes — a
    // silent partial answer would read as "no matches" for the rest
    def needAll[A](reqs: Seq[SearchQ], f: SearchQ => Option[A], what: String): Either[String, Seq[(Long, A)]] = {
      val pairs = reqs.map(q => (q.id, f(q)))
      pairs.collectFirst { case (id, None) => s"query $id missing $what" }
        .toLeft(pairs.collect { case (id, Some(v)) => (id, v) })
    }
    def needBoth(reqs: Seq[SearchQ]): Either[String, Seq[(Long, String, Array[Float])]] =
      for {
        ts <- needAll(reqs, _.text, "query text q")
        vs <- needAll(reqs, _.vec, "query vector vec")
      } yield ts.zip(vs).map { case ((id, t), (_, v)) => (id, t, v) }

    val out: Either[String, DataFrame] = reqsE.flatMap { reqs =>
      kind match {
        case "lexical" => for { p <- needLex; rs <- needAll(reqs, _.text, "query text q") } yield
          graft.operators.Bm25.queryLexIndex(
            sp, p, rs.toDF("q_id", "qtext"), col("q_id"), col("qtext"), k)
        case "phrase" => for { p <- needLex; rs <- needAll(reqs, _.text, "query text q") } yield
          graft.operators.Bm25.queryPhraseIndex(
            sp, p, rs.toDF("q_id", "qphrase"), col("q_id"), col("qphrase"), k)
        case "ann" => for { p <- needAnn; rs <- needAll(reqs, _.vec, "query vector vec") } yield {
          val top = graft.operators.Ann.queryIvfIndex(
            sp, p, rs.toDF("q_id", "qvec"), col("q_id"), col("qvec"), k, nprobe,
            withVec = diversify.isDefined)
          diversify match {
            case Some((m, lam)) => graft.operators.Mmr.diversify(
              top.select(col("q_id"), col("b_id"), col("sim").as("rel"), col("b_emb").as("emb")),
              m, lam)
            case None => top
          }
        }
        case _ => for { lp <- needLex; ap <- needAnn; rs <- needBoth(reqs) } yield
          graft.operators.Fusion.hybridTopK(
            sp, lp, ap, rs.toDF("q_id", "qtext", "qvec"),
            col("q_id"), col("qtext"), col("qvec"), k, kPerLeg = kPerLeg, nprobe = nprobe)
      }
    }
    out match {
      case Left(msg) => (if (msg.startsWith("no ")) 503 else 400,
        JObject("error" -> JString(msg)))
      case Right(df) =>
        // GET keeps the single-query shape (no q_id); POST responses
        // carry q_id so the caller can demultiplex the batch
        val rows = rowsJson(if (isBatch) df else df.drop("q_id"))
        (200, JObject("results" -> rows,
          "count" -> JInt(rows.asInstanceOf[JArray].arr.size)))
    }
  }

  /** Structured JSON twin of
    * [[graft.pipeline.HtmlReport.indexInventory]]: the persisted
    * indexes' lifecycle state from the sidecars alone — ANN occupancy /
    * live-cell split from the ≤nlist-row codebook, lex corpus scalars
    * from the 1-row stats sidecar plus the indexed-empty membership
    * count. Bounded reads only; the base/postings lakes are never
    * scanned, so this endpoint is safe to poll.
    */
  private def indexStatsRoute(ex: HttpExchange): (Int, JValue) = {
    val ann = annIndexPath.map { p =>
      val o = graft.operators.Ann.indexOccupancy(spark, p)
      JObject(
        "path" -> JString(p),
        "occupancy" -> JLong(o.occupancy),
        "cells" -> JLong(o.cells),
        "live_cells" -> JLong(o.liveCells))
    }
    val lex = lexIndexPath.map { p =>
      val st = graft.operators.Bm25.lexIndexStats(spark, p)
      JObject(
        "path" -> JString(p),
        "n_docs" -> JLong(st.nDocs),
        "total_tokens" -> JLong(st.totalTokens),
        "n_buckets" -> JInt(st.nBuckets),
        "indexed_empty" -> JLong(st.indexedEmpty))
    }
    if (ann.isEmpty && lex.isEmpty)
      (503, JObject("error" -> JString("no indexes configured")))
    else
      (200, JObject(
        "ann" -> ann.getOrElse(JNull),
        "lex" -> lex.getOrElse(JNull)))
  }

  // ------------------------------------------------------------- server

  /** Bind and start; port 0 picks an ephemeral port. Returns the bound port. */
  def start(port: Int = 8080): Int = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val pool = Executors.newFixedThreadPool(4)
    s.setExecutor(pool)
    executor = Some(pool)
    s.createContext("/health", handler("/health") { _ =>
      (200, JObject("status" -> JString("healthy"), "timestamp" -> JString(Instant.now.toString)))
    })
    s.createContext("/metrics", handler("/metrics") { _ =>
      val sys = systemMetrics()
      (200, JObject(
        "system" -> sys,
        "jobs" -> jobMetrics(),
        "codegen" -> codegenMetrics(),
        "history" -> JArray(metricsHistory.synchronized(metricsHistory.toList))))
    })
    s.createContext("/jobs", handler("/jobs") { _ =>
      (200, JObject(
        "etl_jobs" -> JArray(jobHistory.synchronized(jobHistory.toVector).takeRight(50).toList.map(jobJson)),
        "scheduled_jobs" -> JArray(scheduled.synchronized(scheduled.toVector).toList.map(j =>
          JObject("name" -> JString(j.name), "schedule" -> JString(j.schedule),
            "enabled" -> JBool(j.enabled))))))
    })
    s.createContext("/events", handler("/events") { _ =>
      val evs = mcpTools.map(_.events.takeRight(100)).getOrElse(Nil)
      (200, JArray(evs.toList.map(e => JObject(
        "seq" -> JLong(e.seq),
        "event_type" -> JString(e.eventType),
        "file_path" -> JString(e.path),
        "metadata" -> JObject(e.metadata.map { case (k, v) => k -> (JString(v): JValue) }.toList)))))
    })
    s.createContext("/status", handler("/status") { _ =>
      (200, JObject(
        "agent_status" -> JString("running"),
        "system_metrics" -> systemMetrics(),
        "job_metrics" -> jobMetrics(),
        "uptime" -> JDouble((System.currentTimeMillis() - startMillis) / 1000.0)))
    })
    s.createContext("/audit/tools", handler("/audit/tools") { _ =>
      (200, JObject(
        "tools" -> JObject(auditTools.toList.map(t => t.name -> (JObject(
          "display_name" -> JString(t.displayName),
          "installed" -> JBool(t.installed),
          "path" -> t.path.map(JString(_): JValue).getOrElse(JNull),
          "requires_admin" -> JBool(t.requiresAdmin),
          "license" -> JString(t.license),
          "install_method" -> JString(t.installMethod)): JValue))),
        "installed_count" -> JInt(auditTools.count(_.installed)),
        "total_count" -> JInt(auditTools.size)))
    })
    s.createContext("/index/stats", handler("/index/stats")(indexStatsRoute))
    s.createContext("/search/lexical", handler("/search/lexical")(searchRoute("lexical")))
    s.createContext("/search/phrase", handler("/search/phrase")(searchRoute("phrase")))
    s.createContext("/search/ann", handler("/search/ann")(searchRoute("ann")))
    s.createContext("/search/hybrid", handler("/search/hybrid")(searchRoute("hybrid")))
    s.createContext("/audit/scans", handler("/audit/scans")(scansRoute))
    s.createContext("/audit/findings", handler("/audit/findings")(findingsRoute))
    s.createContext("/audit/process-scan", handler("/audit/process-scan")(processScanRoute))
    s.createContext("/", handler("/") { ex =>
      (404, JObject("error" -> JString(s"not found: ${ex.getRequestURI.getPath}")))
    })
    s.start()
    server = Some(s)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0))
    server = None
    executor.foreach(_.shutdown()) // HttpServer.stop does not stop its executor
    executor = None
  }
}
