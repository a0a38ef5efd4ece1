package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.analyze.{Finding, Findings}
import graft.pipeline.Pipeline
import graft.serve.{HttpApi, Mcp}

/** S15 serving surface: the MCP stdio tool server
  * ([[graft.serve.Mcp]], reference src/mcp_server.py) and the HTTP
  * monitoring/audit API ([[graft.serve.HttpApi]], reference
  * src/monitoring.py + src/audit/monitor.py). Protocol tests drive the
  * real wire paths: the JSON-RPC loop over byte streams, the HTTP
  * endpoints over a real ephemeral-port server.
  */
class ServeSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def toolsIn(root: String, mode: String = "strict",
      maxFileSize: Long = 100L * 1024 * 1024): Mcp.Tools =
    new Mcp.Tools(Mcp.McpConfig(
      allowedPaths = Seq(root), securityMode = mode, maxFileSize = maxFileSize))

  // ---------------------------------------------------------------- MCP tools

  test("mcp: write/read round trip inside the allowlist") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    val w = t.writeFile(s"$root/a/b.txt", "hello graft")
    assert(!w.isError && w.text.contains("11 characters"))
    val r = t.readFile(s"$root/a/b.txt")
    assert(!r.isError && r.text == "hello graft")
  }

  test("mcp: strict mode denies paths outside the allowlist") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    val r = t.readFile("/etc/hostname")
    assert(r.isError && r.text.startsWith("Error: Access denied"))
    // denied calls leave no event (reference logs only successes)
    assert(t.events.isEmpty)
  }

  test("mcp: empty allowlist allows everything; permissive mode allows everything") {
    val root = tmpDir("mcp")
    Files.write(Paths.get(root, "x.txt"), "x".getBytes(StandardCharsets.UTF_8))
    val open = new Mcp.Tools(Mcp.McpConfig(allowedPaths = Nil, securityMode = "strict"))
    assert(!open.readFile(s"$root/x.txt").isError)
    val perm = new Mcp.Tools(Mcp.McpConfig(
      allowedPaths = Seq("/nonexistent"), securityMode = "permissive"))
    assert(!perm.readFile(s"$root/x.txt").isError)
  }

  test("mcp: max_file_size caps reads") {
    val root = tmpDir("mcp")
    Files.write(Paths.get(root, "big.txt"), ("x" * 64).getBytes(StandardCharsets.UTF_8))
    val t = toolsIn(root, maxFileSize = 16)
    val r = t.readFile(s"$root/big.txt")
    assert(r.isError && r.text.contains("File too large"))
  }

  test("mcp: list/info/mkdir/delete lifecycle") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    assert(!t.createDirectory(s"$root/sub/deep").isError)
    t.writeFile(s"$root/sub/deep/f.txt", "data")
    val ls = t.listDirectory(s"$root/sub")
    assert(!ls.isError)
    val entries = JsonMethods.parse(ls.text).asInstanceOf[JArray].arr
    assert(entries.size == 1)
    assert((entries.head \ "name") == JString("deep"))
    assert((entries.head \ "type") == JString("directory"))
    val info = t.getFileInfo(s"$root/sub/deep/f.txt")
    assert(!info.isError)
    val ij = JsonMethods.parse(info.text)
    assert((ij \ "type") == JString("file"))
    assert((ij \ "size") == JInt(4))
    // recursive directory delete (reference shutil.rmtree branch)
    val del = t.deleteFile(s"$root/sub")
    assert(!del.isError)
    assert(!Files.exists(Paths.get(root, "sub")))
    val missing = t.getFileInfo(s"$root/sub/deep/f.txt")
    assert(missing.isError && missing.text.contains("Path not found"))
  }

  test("mcp: command allowlist and exit-code propagation") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    val ok = t.executeCommand("ls", Seq(root))
    assert(!ok.isError)
    val oj = JsonMethods.parse(ok.text)
    assert((oj \ "returncode") == JInt(0))
    val denied = t.executeCommand("rm", Seq("-rf", root))
    assert(denied.isError && denied.text.contains("Command not allowed"))
    assert(Files.exists(Paths.get(root)))
    // allowlisted command with nonzero exit => isError (reference semantics)
    val fail = t.executeCommand("ls", Seq(s"$root/definitely-not-here"))
    assert(fail.isError)
    assert((JsonMethods.parse(fail.text) \ "returncode") != JInt(0))
  }

  test("mcp: symlinks cannot escape the strict-mode allowlist") {
    val root = tmpDir("mcp")
    val outside = tmpDir("mcp-outside")
    Files.write(Paths.get(outside, "secret.txt"), "s3cret".getBytes(StandardCharsets.UTF_8))
    Files.createSymbolicLink(Paths.get(root, "ln"), Paths.get(outside))
    val t = toolsIn(root)
    // textual normalization would pass startsWith(root); the resolved
    // real path lands outside and must be denied (reference
    // Path.resolve() semantics)
    val r = t.readFile(s"$root/ln/secret.txt")
    assert(r.isError && r.text.contains("Access denied"), r.text)
    val w = t.writeFile(s"$root/ln/evil.txt", "x")
    assert(w.isError && w.text.contains("Access denied"))
    assert(!Files.exists(Paths.get(outside, "evil.txt")))
  }

  test("mcp: execute_command caps captured output and says so") {
    val root = tmpDir("mcp")
    Files.write(Paths.get(root, "big.txt"), ("y" * 4096).getBytes(StandardCharsets.UTF_8))
    val t = new Mcp.Tools(Mcp.McpConfig(
      allowedPaths = Seq(root), allowedCommands = Set("cat"), maxFileSize = 128))
    val r = t.executeCommand("cat", Seq(s"$root/big.txt"))
    assert(!r.isError) // rc == 0; truncation is flagged, not an error
    val j = JsonMethods.parse(r.text)
    assert((j \ "output_truncated") == JBool(true), r.text.take(300))
    assert((j \ "stdout").asInstanceOf[JString].s.length == 128)
  }

  test("mcp: non-string args error instead of silently dropping elements") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    val r = t.call("execute_command", JsonMethods.parse(
      s"""{"command":"ls","args":["$root",123]}"""))
    assert(r.isError && r.text.contains("only strings"), r.text)
  }

  test("mcp: a hung command hits the timeout, not a forever-block") {
    val root = tmpDir("mcp")
    val t = new Mcp.Tools(Mcp.McpConfig(
      allowedPaths = Seq(root), allowedCommands = Set("sleep"),
      commandTimeoutSeconds = 1L))
    val t0 = System.nanoTime()
    val r = t.executeCommand("sleep", Seq("30"))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.isError && r.text.contains("timed out"), r.text)
    assert(sec < 10.0, s"timeout took ${sec}s — output drain is blocking the deadline")
  }

  test("mcp: event log records successful operations in order") {
    val root = tmpDir("mcp")
    val t = toolsIn(root)
    t.writeFile(s"$root/e.txt", "1")
    t.readFile(s"$root/e.txt")
    t.getFileInfo(s"$root/e.txt")
    val evs = t.events
    assert(evs.map(_.eventType) == Seq("write_file", "read_file", "get_file_info"))
    assert(evs.map(_.seq) == Seq(1L, 2L, 3L))
    assert(evs.head.metadata("size") == "1")
  }

  // ---------------------------------------------------------------- MCP wire

  private def runWire(tools: Mcp.Tools, lines: Seq[String]): Seq[JValue] = {
    val in = new ByteArrayInputStream(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val out = new ByteArrayOutputStream()
    new Mcp.McpServer(tools).serve(in, out)
    out.toString(StandardCharsets.UTF_8).split('\n').toSeq
      .filter(_.trim.nonEmpty).map(JsonMethods.parse(_))
  }

  test("mcp wire: initialize / tools list / tools call over the stdio loop") {
    val root = tmpDir("mcpw")
    Files.write(Paths.get(root, "w.txt"), "wire".getBytes(StandardCharsets.UTF_8))
    val reqs = Seq(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""",
      s"""{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"read_file","arguments":{"path":"$root/w.txt"}}}""",
      """not json at all""",
      """{"jsonrpc":"2.0","id":4,"method":"no/such"}"""
    )
    val resp = runWire(toolsIn(root), reqs)
    // notification gets no response: 6 lines in, 5 responses out
    assert(resp.size == 5)
    assert((resp(0) \ "result" \ "protocolVersion") == JString("2024-11-05"))
    assert((resp(0) \ "result" \ "serverInfo" \ "name") == JString("graft-filesystem"))
    val toolNames = (resp(1) \ "result" \ "tools").asInstanceOf[JArray].arr
      .map(t => (t \ "name").asInstanceOf[JString].s).toSet
    assert(toolNames == Set("read_file", "write_file", "list_directory",
      "execute_command", "create_directory", "delete_file", "get_file_info"))
    assert((resp(2) \ "result" \ "isError") == JBool(false))
    val text = (resp(2) \ "result" \ "content").asInstanceOf[JArray].arr.head \ "text"
    assert(text == JString("wire"))
    assert((resp(3) \ "error" \ "code") == JInt(-32700))
    assert((resp(4) \ "error" \ "code") == JInt(-32601))
  }

  test("mcp wire: unknown tool is a tool-level error, not a protocol error") {
    val resp = runWire(toolsIn(tmpDir("mcpw")), Seq(
      """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":{"name":"teleport","arguments":{}}}"""))
    assert(resp.size == 1)
    assert((resp.head \ "error") == JNothing)
    assert((resp.head \ "result" \ "isError") == JBool(true))
  }

  // ---------------------------------------------------------------- HTTP API

  private val fixtureFindings = Seq(
    Finding("open admin port", "d1", "critical", "network", "host1", "scan", "{}"),
    Finding("weak cipher", "d2", "high", "network", "host2", "scan", "{}"),
    Finding("stale account", "d3", "high", "process", "host3", "scan", "{}"),
    Finding("note", "d4", "info", "system", "host4", "scan", "{}"))

  private def withApi[A](api: HttpApi)(body: (Int, HttpClient) => A): A = {
    val port = api.start(0)
    val client = HttpClient.newHttpClient()
    try body(port, client) finally api.stop()
  }

  private def get(client: HttpClient, port: Int, path: String): (Int, JValue) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, JsonMethods.parse(r.body))
  }

  private def post(client: HttpClient, port: Int, path: String): (Int, JValue) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, JsonMethods.parse(r.body))
  }

  private def postJson(client: HttpClient, port: Int, path: String, body: String): (Int, JValue) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode, JsonMethods.parse(r.body))
  }

  test("http: health, status, metrics, jobs, 404") {
    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF)
    api.registerJob(HttpApi.JobRecord("j1", "extract", "completed", 1000L, Some(3000L)))
    api.registerJob(HttpApi.JobRecord("j2", "load", "running", 5000L, None))
    api.registerJob(HttpApi.JobRecord("j3", "transform", "failed", 6000L, Some(6500L)))
    api.registerScheduled(HttpApi.ScheduledJobRecord("nightly", "0 2 * * *", enabled = true))
    withApi(api) { (port, client) =>
      val (hc, hj) = get(client, port, "/health")
      assert(hc == 200 && (hj \ "status") == JString("healthy"))

      val (sc, sj) = get(client, port, "/status")
      assert(sc == 200)
      assert((sj \ "agent_status") == JString("running"))
      assert((sj \ "uptime").asInstanceOf[JDouble].num >= 0.0)
      assert((sj \ "job_metrics" \ "total_jobs") == JInt(3))
      assert((sj \ "job_metrics" \ "running_jobs") == JInt(1))
      assert((sj \ "job_metrics" \ "failed_jobs") == JInt(1))
      assert((sj \ "job_metrics" \ "average_duration") == JDouble(2.0))

      val (mc, mj) = get(client, port, "/metrics")
      assert(mc == 200)
      assert((mj \ "system" \ "cpu_percent").isInstanceOf[JDouble])
      assert((mj \ "system" \ "memory_percent").asInstanceOf[JDouble].num > 0.0)
      assert((mj \ "history").asInstanceOf[JArray].arr.nonEmpty)
      // code generation so far in this JVM: a warm served request adds
      // nothing to either number
      assert((mj \ "codegen" \ "compiled_classes").asInstanceOf[JInt].num >= 0)
      assert((mj \ "codegen" \ "compile_ms").asInstanceOf[JDouble].num >= 0.0)

      val (jc, jj) = get(client, port, "/jobs")
      assert(jc == 200)
      assert((jj \ "etl_jobs").asInstanceOf[JArray].arr.size == 3)
      val sched = (jj \ "scheduled_jobs").asInstanceOf[JArray].arr
      assert(sched.size == 1 && (sched.head \ "schedule") == JString("0 2 * * *"))

      val (nc, nj) = get(client, port, "/nope")
      assert(nc == 404 && (nj \ "error") != JNothing)

      // contexts match by prefix in com.sun HttpServer — routes must
      // still 404 a prefix-extended path, not answer it (a typo'd
      // POST /audit/process-scan-x would otherwise launch a real scan)
      val (pxc, _) = get(client, port, "/healthzzz")
      assert(pxc == 404, "/healthzzz answered as /health (prefix-match leak)")
      val (pxj, _) = get(client, port, "/jobs-foo")
      assert(pxj == 404)
    }
  }

  test("http: audit findings filter severity/domain with plan-side limit") {
    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF)
    withApi(api) { (port, client) =>
      val (c1, j1) = get(client, port, "/audit/findings?severity=high")
      assert(c1 == 200 && (j1 \ "count") == JInt(2))
      val sevs = (j1 \ "findings").asInstanceOf[JArray].arr.map(f => f \ "severity").distinct
      assert(sevs == List(JString("high")))

      val (c2, j2) = get(client, port, "/audit/findings?severity=high&domain=process")
      assert(c2 == 200 && (j2 \ "count") == JInt(1))
      val one = (j2 \ "findings").asInstanceOf[JArray].arr.head
      assert((one \ "title") == JString("stale account"))

      val (c3, j3) = get(client, port, "/audit/findings?limit=2")
      assert(c3 == 200 && (j3 \ "count") == JInt(2))
      // severity-ranked: critical first (Findings.topFindings ordering)
      val first = (j3 \ "findings").asInstanceOf[JArray].arr.head
      assert((first \ "severity") == JString("critical"))
    }
  }

  test("http: search serving over persisted lex + ANN indexes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("srch")
    val docs = searchDocs
    graft.operators.Bm25.buildLexIndex(docs, col("id"), col("text"), s"$root/lex", nBuckets = 8)
    graft.operators.Ann.buildIvfIndex(docs, col("id"), col("emb"), s"$root/ann", nlist = 2)

    // direct persisted-path call = the serving oracle
    val direct = graft.operators.Bm25.queryLexIndex(
      spark, s"$root/lex", Seq((0L, "quick fox")).toDF("q_id", "qtext"),
      col("q_id"), col("qtext"), 3)
      .orderBy(col("rank")).select("doc_id").as[Long].collect().toSeq

    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF,
      lexIndexPath = Some(s"$root/lex"), annIndexPath = Some(s"$root/ann"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    withApi(api) { (port, client) =>
      val (lc, lj) = get(client, port, "/search/lexical?q=quick%20fox&k=3")
      assert(lc == 200)
      val served = (lj \ "results").asInstanceOf[JArray].arr
        .sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
        .map(r => (r \ "doc_id").asInstanceOf[JInt].num.toLong)
      assert(served == direct)

      val (pc, pj) = get(client, port, "/search/phrase?q=quick%20brown&k=5")
      assert(pc == 200)
      val phraseDocs = (pj \ "results").asInstanceOf[JArray].arr
        .map(r => (r \ "doc_id").asInstanceOf[JInt].num.toLong).toSet
      assert(phraseDocs == Set(1L, 3L)) // exact adjacency: not doc 5/6

      val (ac, aj) = get(client, port, "/search/ann?vec=1,0,0,0&k=2&nprobe=2")
      assert(ac == 200)
      val annTop = (aj \ "results").asInstanceOf[JArray].arr
        .sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
        .map(r => (r \ "b_id").asInstanceOf[JInt].num.toLong)
      assert(annTop.head == 1L) // exact match on the query vector
      assert(annTop.size == 2)

      val (hc, hj) = get(client, port, "/search/hybrid?q=quick%20fox&vec=1,0,0,0&k=3&nprobe=2")
      assert(hc == 200)
      val hybridTop = (hj \ "results").asInstanceOf[JArray].arr
        .sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
        .map(r => (r \ "doc_id").asInstanceOf[JInt].num.toLong)
      // doc 1 wins both legs => wins the fusion
      assert(hybridTop.head == 1L)

      // MMR diversification: with vec=1,0,0,0 the plain top-2 is
      // doc 1 + its near-duplicate doc 3; diversify=2 at λ=0.5 keeps
      // doc 1 and displaces the near-dup with an orthogonal doc (the
      // near-dups' penalty ≈ their relevance, ties resolve to the
      // smallest id among the orthogonal remainder: doc 2)
      val (dvc, dvj) = get(client, port,
        "/search/ann?vec=1,0,0,0&k=4&nprobe=2&diversify=2&lambda=0.5")
      assert(dvc == 200)
      val divTop = (dvj \ "results").asInstanceOf[JArray].arr
        .sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
        .map(r => (r \ "b_id").asInstanceOf[JInt].num.toLong)
      assert(divTop == List(1L, 2L), s"diversified ranking was $divTop")

      val (mc, mj) = get(client, port, "/search/lexical?k=3")
      assert(mc == 400 && (mj \ "error") != JNothing)
      val (vc, _) = get(client, port, "/search/ann?vec=not,floats")
      assert(vc == 400)
      // non-finite vectors parse as floats but are a 400, never a 200
      // ranked by NaN sims (NaN passes Spark's norm > 0 filter); 1e39
      // overflows the float the index stores
      for (v <- Seq("NaN,0,0,0", "1,Infinity,0,0", "-Infinity,0,0,0", "1e39,0,0,0");
           kind <- Seq("ann?", "hybrid?q=quick%20fox&")) {
        val (nfc, nfj) = get(client, port, s"/search/${kind}vec=$v&k=2")
        assert(nfc == 400, s"vec=$v on $kind answered $nfc")
        assert((nfj \ "error").asInstanceOf[JString].s.contains("finite"))
      }
      val (pnc, pnj) = postJson(client, port, "/search/ann",
        """{"queries":[{"id":1,"vec":[1,0,0,0]},{"id":9,"vec":[1e400,0,0,0]}]}""")
      assert(pnc == 400 && (pnj \ "error").asInstanceOf[JString].s.contains("query 9"))

      // ?diversify= on a non-ann kind is a LOUD 400, not a silent
      // ignore — undiversified results that look diversified would
      // contradict the fail-loud contract
      for (kind <- Seq("lexical?q=quick%20fox", "phrase?q=quick%20fox",
          "hybrid?q=quick%20fox&vec=1,0,0,0")) {
        val (dc, dj) = get(client, port, s"/search/$kind&k=3&diversify=2")
        assert(dc == 400, s"diversify on $kind answered $dc, not 400")
        assert((dj \ "error").asInstanceOf[JString].s.contains("only supported on /search/ann"))
      }

      // bounded sidecar observability: 6 docs indexed in both lakes
      val (ic, ij) = get(client, port, "/index/stats")
      assert(ic == 200)
      assert((ij \ "ann" \ "occupancy") == JInt(6))
      assert((ij \ "ann" \ "cells") == JInt(2))
      assert((ij \ "lex" \ "n_docs") == JInt(6))
      assert((ij \ "lex" \ "indexed_empty") == JInt(0))

      // batch POST: three lexical queries through ONE plan must equal
      // three single GETs, demultiplexed by q_id
      val batch = """{"queries":[
        {"id":11,"q":"quick fox"},
        {"id":12,"q":"lazy dogs"},
        {"id":13,"q":"honey"}]}"""
      val (bc, bj) = postJson(client, port, "/search/lexical?k=3", batch)
      assert(bc == 200)
      val byQuery = (bj \ "results").asInstanceOf[JArray].arr
        .groupBy(r => (r \ "q_id").asInstanceOf[JInt].num.toLong)
        .view.mapValues(_.sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
          .map(r => (r \ "doc_id").asInstanceOf[JInt].num.toLong)).toMap
      for ((id, q) <- Seq(11L -> "quick fox", 12L -> "lazy dogs", 13L -> "honey")) {
        val (sc2, sj2) = get(client, port, s"/search/lexical?q=${q.replace(" ", "%20")}&k=3")
        assert(sc2 == 200)
        val single = (sj2 \ "results").asInstanceOf[JArray].arr
          .sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
          .map(r => (r \ "doc_id").asInstanceOf[JInt].num.toLong)
        assert(byQuery.getOrElse(id, Nil) == single,
          s"batch result for query $id diverged from the single-query GET")
      }

      // batch hybrid: both modalities per query, one plan
      val hb = """{"queries":[
        {"id":1,"q":"quick fox","vec":[1,0,0,0]},
        {"id":2,"q":"honey","vec":[0,0,1,0]}]}"""
      val (hbc, hbj) = postJson(client, port, "/search/hybrid?k=2&nprobe=2", hb)
      assert(hbc == 200)
      val hybridByQ = (hbj \ "results").asInstanceOf[JArray].arr
        .groupBy(r => (r \ "q_id").asInstanceOf[JInt].num.toLong)
      assert(hybridByQ.keySet == Set(1L, 2L))

      // batch + MMR: the diversify params apply per query of the batch
      val db = """{"queries":[
        {"id":1,"vec":[1,0,0,0]},
        {"id":2,"vec":[0,0,1,0]}]}"""
      val (dbc, dbj) = postJson(client, port,
        "/search/ann?k=4&nprobe=2&diversify=2&lambda=0.5", db)
      assert(dbc == 200)
      val divByQ = (dbj \ "results").asInstanceOf[JArray].arr
        .groupBy(r => (r \ "q_id").asInstanceOf[JInt].num.toLong)
        .view.mapValues(_.sortBy(r => (r \ "rank").asInstanceOf[JInt].num)
          .map(r => (r \ "b_id").asInstanceOf[JInt].num.toLong)).toMap
      // query 1 mirrors the GET diversify case; query 2's near-dup
      // (doc 5, cos≈.994 to doc 4's exact match) is displaced the
      // same way
      assert(divByQ(1L) == List(1L, 2L), s"batch diversify q1: ${divByQ(1L)}")
      assert(divByQ(2L).head == 4L && divByQ(2L).size == 2)
      assert(divByQ(2L)(1) != 5L, "near-dup should be displaced for q2")

      // batch guards: duplicate ids, empty batch, missing field
      val (dc, dj) = postJson(client, port, "/search/lexical",
        """{"queries":[{"id":1,"q":"a"},{"id":1,"q":"b"}]}""")
      assert(dc == 400 && (dj \ "error") != JNothing)
      val (ec2, _) = postJson(client, port, "/search/lexical", """{"queries":[]}""")
      assert(ec2 == 400)
      val (fc, fj) = postJson(client, port, "/search/ann",
        """{"queries":[{"id":1,"q":"text but no vec"}]}""")
      assert(fc == 400 && (fj \ "error").asInstanceOf[JString].s.contains("missing query vector"))
      // non-integral id is a 400, NOT a silent renumber (the caller
      // demultiplexes by id — renumbering reads as "no matches")
      val (nc, nj) = postJson(client, port, "/search/lexical",
        """{"queries":[{"id":7.5,"q":"quick"}]}""")
      assert(nc == 400 && (nj \ "error").asInstanceOf[JString].s.contains("non-integral id"))
      val (nsc, _) = postJson(client, port, "/search/lexical",
        """{"queries":[{"id":"7","q":"quick"}]}""")
      assert(nsc == 400)
      // empty vec [] is a 400 like the GET form, not a 500 from dim checks
      val (evc, evj) = postJson(client, port, "/search/ann",
        """{"queries":[{"id":1,"vec":[]}]}""")
      assert(evc == 400 && (evj \ "error").asInstanceOf[JString].s.contains("non-empty"))
      // a stray/malformed vec param on a lexical GET is ignored, not a 400
      val (strayC, strayJ) = get(client, port, "/search/lexical?q=quick%20fox&k=3&vec=abc")
      assert(strayC == 200 && (strayJ \ "count") == JInt(3))

      // served requests must not accumulate cached frames: the served
      // verbs cache nothing (a long-running server would otherwise
      // leak one tiny frame per call)
      assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
        "search serving leaked cached frames into the block manager")
    }

    // an api without indexes refuses serving, not answers garbage
    val bare = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF)
    withApi(bare) { (port, client) =>
      val (c, j) = get(client, port, "/search/lexical?q=x")
      assert(c == 503 && (j \ "error") != JNothing)
      val (sc, _) = get(client, port, "/index/stats")
      assert(sc == 503)
    }
  }

  test("http: audit tools, events, process-scan with report") {
    val root = tmpDir("api")
    val mcp = new Mcp.Tools(Mcp.McpConfig(allowedPaths = Seq(root)))
    mcp.writeFile(s"$root/seen.txt", "1")
    val runner: HttpApi.ScanRunner = { s =>
      val run = Pipeline.run(Seq(
        "collect" -> (ctx => ctx + ("raw" -> Findings.toDS(s, fixtureFindings).toDF)),
        "analyze" -> (ctx => ctx + ("findings" -> Findings.dropInfo(ctx("raw"))))))
      (run, run.context("findings"))
    }
    val api = new HttpApi(spark,
      () => Findings.toDS(spark, fixtureFindings).toDF,
      auditTools = Seq(
        HttpApi.AuditTool("sysinternals", "Sysinternals Suite", installed = true, Some("/opt/sys")),
        HttpApi.AuditTool("nmap", "Nmap", installed = false, None)),
      processScan = Some(runner),
      mcpTools = Some(mcp),
      reportDir = Some(root))
    withApi(api) { (port, client) =>
      val (tc, tj) = get(client, port, "/audit/tools")
      assert(tc == 200)
      assert((tj \ "installed_count") == JInt(1) && (tj \ "total_count") == JInt(2))
      assert((tj \ "tools" \ "sysinternals" \ "installed") == JBool(true))

      val (ec, ej) = get(client, port, "/events")
      assert(ec == 200)
      val evs = ej.asInstanceOf[JArray].arr
      assert(evs.size == 1 && (evs.head \ "event_type") == JString("write_file"))

      val (s0, sj0) = get(client, port, "/audit/scans")
      assert(s0 == 200 && (sj0 \ "count") == JInt(0))

      // GET on process-scan is refused; POST runs the pipeline
      val (bad, _) = get(client, port, "/audit/process-scan")
      assert(bad == 405)
      val (pc, pj) = post(client, port, "/audit/process-scan")
      assert(pc == 200)
      assert((pj \ "status") == JString("completed"))
      assert((pj \ "total_findings") == JInt(3)) // info row dropped by analyze stage
      assert((pj \ "critical_findings") == JInt(1))
      assert((pj \ "high_findings") == JInt(2))
      val stages = (pj \ "stages").asInstanceOf[JArray].arr
      assert(stages.map(s => s \ "name") == List(JString("collect"), JString("analyze")))
      val reportPath = (pj \ "report_path").asInstanceOf[JString].s
      assert(Files.exists(Paths.get(reportPath)))
      assert(Files.readString(Paths.get(reportPath)).contains("Process Scan"))

      val (s1, sj1) = get(client, port, "/audit/scans")
      assert(s1 == 200 && (sj1 \ "count") == JInt(1))
      val scan = (sj1 \ "scans").asInstanceOf[JArray].arr.head
      assert((scan \ "pipeline_name") == JString("process_scan"))
    }
  }

  /** Job descriptions of the Spark jobs launched while `body` runs —
    * counted by a listener, the bus drained on both sides so no earlier
    * job leaks in and no late event is missed.
    */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      (a, descs.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The six-document corpus of the serving specs: (id, text, emb). */
  private def searchDocs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps", Array(1f, 0f, 0f, 0f)),
      (2L, "lazy dogs sleep all day", Array(0f, 1f, 0f, 0f)),
      (3L, "quick brown foxes and quick dogs", Array(0.9f, 0.1f, 0f, 0f)),
      (4L, "a completely unrelated document", Array(0f, 0f, 1f, 0f)),
      (5L, "brown bears eat honey", Array(0f, 0f, 0.9f, 0.1f)),
      (6L, "the fox den sits under the hill", Array(0.8f, 0f, 0.2f, 0f))
    ).toDF("id", "text", "emb")
  }

  test("http: per-verb Spark job budget of a served search request") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("jobs")
    graft.operators.Bm25.buildLexIndex(searchDocs, col("id"), col("text"), s"$root/lex", nBuckets = 8)
    graft.operators.Ann.buildIvfIndex(searchDocs, col("id"), col("emb"), s"$root/ann", nlist = 2)
    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF,
      lexIndexPath = Some(s"$root/lex"), annIndexPath = Some(s"$root/ann"))
    // (kind, request, job description, most jobs one request may run):
    // with the sidecars, lake schemas and probe centroids resident, the
    // query batch collected once on the driver into one local relation,
    // and the ANN probe cells ranked there, a request pays only the
    // data stages of its pruned scoring plan
    val budget = Seq(
      ("lexical", "/search/lexical?q=quick%20fox&k=3", "search.lexical", 5),
      ("phrase", "/search/phrase?q=quick%20brown&k=3", "search.phrase", 5),
      ("ann", "/search/ann?vec=1,0,0,0&k=2&nprobe=2", "search.ann", 3),
      ("hybrid", "/search/hybrid?q=quick%20fox&vec=1,0,0,0&k=3&nprobe=2", "search.hybrid", 7),
      ("batch", "/search/lexical?k=3", "search.lexical", 5))
    val batch = """{"queries":[{"id":1,"q":"quick fox"},{"id":2,"q":"lazy dogs"},{"id":3,"q":"honey"}]}"""
    withApi(api) { (port, client) =>
      for ((kind, path, desc, maxJobs) <- budget) {
        def once() = jobsDuring {
          if (kind == "batch") postJson(client, port, path, batch)._1
          else get(client, port, path)._1
        }
        once() // the first request of an index generation loads the sidecars
        val (code, descs) = once()
        assert(code == 200)
        info(s"$kind jobs: ${descs.size}")
        assert(descs.nonEmpty && descs.forall(_ == desc),
          s"$kind: jobs not all described as $desc: ${descs.distinct}")
        assert(descs.size <= maxJobs, s"$kind ran ${descs.size} Spark jobs, budget $maxJobs")
      }
    }
  }

  /** Buckets of a lexical index with `nBuckets` that the analyzed
    * `texts` hash into (the index's pmod-of-xxhash64 assignment).
    */
  private def bucketsOf(texts: Seq[String], nBuckets: Int): Set[Int] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, lit, pmod, xxhash64}
    texts.toDF("q").select(explode(graft.operators.Bm25.analyze(col("q"))).as("t"))
      .select(pmod(xxhash64(col("t")), lit(nBuckets.toLong)).cast("int"))
      .as[Int].collect().toSet
  }

  private def batchBody(qs: Seq[String]): String =
    qs.zipWithIndex.map { case (q, i) => s"""{"id":$i,"q":"$q"}""" }
      .mkString("""{"queries":[""", ",", "]}")

  test("http: a warm served request compiles no class its warm-up did not") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenCacheProbe
    val root = tmpDir("codegen")
    graft.operators.Bm25.buildLexIndex(searchDocs, col("id"), col("text"), s"$root/lex", nBuckets = 8)
    graft.operators.Ann.buildIvfIndex(searchDocs, col("id"), col("emb"), s"$root/ann", nlist = 3)
    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF,
      lexIndexPath = Some(s"$root/lex"), annIndexPath = Some(s"$root/ann"))
    def enc(q: String) = q.replace(" ", "%20")
    // per verb: the warm-up request first, then three whose vocabulary
    // or vector reaches other buckets or cells
    val texts = Seq("quick fox", "lazy dogs", "honey bears", "unrelated document")
    val phrases = Seq("quick brown", "lazy dogs", "brown bears", "completely unrelated")
    val vecs = Seq("1,0,0,0", "0,1,0,0", "0,0,1,0", "0,0,0.9,0.1")
    val batches = Seq(Seq("quick fox", "honey"), Seq("lazy dogs", "den"),
      Seq("brown bears", "hill"), Seq("unrelated document", "sleep"))
    for (group <- Seq(texts, phrases, batches.map(_.mkString(" "))))
      assert(group.tail.forall(t => !bucketsOf(Seq(t), 8).subsetOf(bucketsOf(group.take(1), 8))),
        s"$group: every request after the warm-up must reach a bucket the warm-up did not")
    withApi(api) { (port, client) =>
      def send(kind: String, i: Int): JValue = {
        val (c, j) = kind match {
          case "batch" => postJson(client, port, "/search/lexical?k=3", batchBody(batches(i)))
          case "lexical" => get(client, port, s"/search/lexical?q=${enc(texts(i))}&k=3")
          case "phrase" => get(client, port, s"/search/phrase?q=${enc(phrases(i))}&k=3")
          case "ann" => get(client, port, s"/search/ann?vec=${vecs(i)}&k=2&nprobe=1")
          case "hybrid" =>
            get(client, port, s"/search/hybrid?q=${enc(texts(i))}&vec=${vecs(i)}&k=3&nprobe=1")
        }
        assert(c == 200, s"$kind request $i answered $c: $j")
        j \ "results"
      }
      val kinds = Seq("lexical", "phrase", "ann", "hybrid", "batch")
      // adaptive execution numbers a plan's codegen stages in the order
      // its query stages finish, and the number is part of the source:
      // a warm plan shape may compile again under another number (seen
      // on about one run in four), so sources compare without it
      def unnumbered(src: String) = src.replaceAll("""CodegenStage\d+|codegenStageId=\d+""", "")
      // every source the class cache held at some point of the warm-up:
      // a class it has evicted since is compiled again, not new
      val known = scala.collection.mutable.Set.empty[String]
      def seen(): Unit = known ++= CodegenCacheProbe.sources().map(unnumbered)
      seen()
      val warmAnn = kinds.map { k => val r = send(k, 0); seen(); k -> r }.toMap.apply("ann")
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val fresh = scala.collection.mutable.Set.empty[String]
      val served = for (kind <- kinds; i <- 1 to 3) yield {
        val r = send(kind, i)
        fresh ++= CodegenCacheProbe.sources().filterNot(s => known(unnumbered(s)))
        (kind, r)
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(fresh.isEmpty, s"warm requests compiled ${fresh.size} new classes " +
        s"($compiled compiles in all), e.g.\n${fresh.headOption.getOrElse("").take(3000)}")
      // with nprobe=1 an ann request reads one cell: an answer unlike
      // the warm-up's came from another cell
      val annAnswers = served.collect { case ("ann", r) => r }
      assert(annAnswers.forall(_ != warmAnn), s"an ann request probed the warm-up's cell: $annAnswers")
      val (_, mj) = get(client, port, "/metrics")
      assert((mj \ "codegen" \ "compiled_classes") ==
        JInt(CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
    }
  }

  test("http: a batch over more than 32 buckets runs no more jobs than a whole-lake read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmpDir("wide")
    // 256 distinct terms over 64 buckets: every bucket holds postings,
    // so a whole-lake read lists 64 leaves
    val docs = (0 until 256).map(i => s"w$i").grouped(4).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("id", "text")
    graft.operators.Bm25.buildLexIndex(docs, col("id"), col("text"), s"$root/lex", nBuckets = 64)
    val qs = (0 until 64).map(i => s"w$i").grouped(4).map(_.mkString(" ")).toSeq
    val probed = bucketsOf(qs, 64).size
    assert(probed > 32, s"the batch reaches only $probed buckets")
    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF,
      lexIndexPath = Some(s"$root/lex"))
    withApi(api) { (port, client) =>
      def once() = jobsDuring(postJson(client, port, "/search/lexical?k=3", batchBody(qs))._1)
      once()
      val (code, descs) = once()
      assert(code == 200)
      info(s"$probed-bucket batch jobs: ${descs.size}")
      // Spark lists more than 32 leaves in a job of its own, as it does
      // the 64 leaves of a whole-lake read: one job over the 5 of a
      // small batch
      assert(descs.size <= 6, s"a $probed-bucket batch ran ${descs.size} Spark jobs, budget 6")
    }
  }

  test("http: one long-lived server follows every index generation, never a stale memo") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Ann, Bm25, Fusion}
    val root = tmpDir("gens")
    val (lex, ann) = (s"$root/lex", s"$root/ann")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seed = searchDocs.as[(Long, String, Array[Float])].collect().toSeq
    val inc = Seq(
      (7L, "quick honey for the brown fox", Array(0.7f, 0f, 0f, 0.7f)),
      (8L, "dogs chase the quick fox", Array(0.6f, 0.6f, 0f, 0f)),
      (9L, "honey bears and lazy dogs", Array(0f, 0.3f, 0.9f, 0f)))
    var corpus = seed
    def df(rows: Seq[(Long, String, Array[Float])]) = rows.toDF("id", "text", "emb")
    Bm25.buildLexIndex(df(corpus), col("id"), col("text"), lex, nBuckets = 4)
    Ann.buildIvfIndex(df(corpus), col("id"), col("emb"), ann, nlist = 2)

    val (k, kPerLeg, q, vec) = (3, 20, "quick honey dogs", Array(0.8f, 0.2f, 0.1f, 0.3f))
    val vecP = vec.mkString(",")
    def served(path: String, id: String, metric: String)(client: HttpClient, port: Int) = {
      val (c, j) = get(client, port, path)
      assert(c == 200, s"$path answered $c: $j")
      (j \ "results").asInstanceOf[JArray].arr.map(r => (
        (r \ id).asInstanceOf[JInt].num.toLong, (r \ "rank").asInstanceOf[JInt].num.toInt,
        r \ metric match { case JDouble(d) => d; case JInt(n) => n.toDouble; case o => sys.error(s"$o") }))
        .sortBy(_._2)
    }
    def rows(d: org.apache.spark.sql.DataFrame, id: String, metric: String) =
      d.select(col(id).cast("long"), col("rank").cast("int"), col(metric).cast("double"))
        .as[(Long, Int, Double)].collect().toSeq.sortBy(_._2)
    // on-the-fly references over the CURRENT corpus; nprobe >= nlist
    // makes both IVF sides exhaustive, hence comparable across refits
    def lexRef(kk: Int) = Bm25.searchTopK(df(corpus), col("id"), col("text"),
      Seq((0L, q)).toDF("q_id", "qtext"), col("q_id"), col("qtext"), kk)
    def annRef(kk: Int) = Ann.knnIvf(df(corpus), col("id"), col("emb"),
      Seq((0L, vec)).toDF("q_id", "qvec"), col("q_id"), col("qvec"), kk, nlist = 2, nprobe = 64)
    def check(step: String)(client: HttpClient, port: Int): Unit = {
      assert(served(s"/search/lexical?q=${q.replace(" ", "%20")}&k=$k", "doc_id", "score_micro")(client, port) ==
        rows(lexRef(k), "doc_id", "score_micro"), s"lexical after $step")
      val annGot = served(s"/search/ann?vec=$vecP&k=$k&nprobe=64", "b_id", "sim")(client, port)
      val annWant = rows(annRef(k), "b_id", "sim")
      assert(annGot.map(r => (r._1, r._2)) == annWant.map(r => (r._1, r._2)), s"ann after $step")
      assert(annGot.zip(annWant).forall { case (g, w) => math.abs(g._3 - w._3) <= 1e-12 },
        s"ann sims after $step")
      val hybWant = Fusion.rrf(Seq(
        lexRef(kPerLeg).select("q_id", "doc_id", "rank"),
        annRef(kPerLeg).select(col("q_id"), col("b_id").as("doc_id"), col("rank"))), k)
      assert(served(s"/search/hybrid?q=${q.replace(" ", "%20")}&vec=$vecP&k=$k&nprobe=64&k_per_leg=$kPerLeg",
        "doc_id", "rrf_micro")(client, port) == rows(hybWant, "doc_id", "rrf_micro"), s"hybrid after $step")
    }

    val api = new HttpApi(spark, () => Findings.toDS(spark, fixtureFindings).toDF,
      lexIndexPath = Some(lex), annIndexPath = Some(ann))
    withApi(api) { (port, client) =>
      check("build")(client, port)
      Bm25.addToLexIndex(spark, lex, df(inc), col("id"), col("text"))
      Ann.addToIvfIndex(spark, ann, df(inc), col("id"), col("emb"))
      corpus = corpus ++ inc
      check("add")(client, port)
      val victims = Seq(2L, 8L)
      Bm25.removeFromLexIndex(spark, lex, df(corpus.filter(r => victims.contains(r._1))),
        col("id"))
      Ann.removeFromIvfIndex(spark, ann, victims.toDF("id"), col("id"))
      corpus = corpus.filterNot(r => victims.contains(r._1))
      check("remove")(client, port)
      Bm25.compactLexIndex(spark, lex)
      Ann.compactIndex(spark, ann)
      check("compact")(client, port)
      Bm25.rebucketLexIndex(spark, lex, 3)
      check("rebucket")(client, port)
      Ann.refitIvfIndex(spark, ann, 3)
      check("refit")(client, port)

      // an in-place rebuild deletes the sidecar first: a request landing
      // in that window fails loudly, never from the memo of the old
      // generation
      fs.delete(new org.apache.hadoop.fs.Path(s"$lex/stats"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$ann/codebook"), true)
      for ((path, sidecar) <- Seq(s"/search/lexical?q=quick&k=$k" -> "lex/stats",
          s"/search/ann?vec=$vecP&k=$k" -> "ann/codebook",
          s"/search/hybrid?q=quick&vec=$vecP&k=$k" -> "lex/stats")) {
        val (c, j) = get(client, port, path)
        assert(c == 500, s"$path answered $c while the sidecar was gone")
        assert((j \ "error").asInstanceOf[JString].s.contains(sidecar),
          s"$path failed without naming the missing $sidecar: $j")
      }
      Bm25.buildLexIndex(df(corpus), col("id"), col("text"), lex, nBuckets = 4)
      Ann.buildIvfIndex(df(corpus), col("id"), col("emb"), ann, nlist = 2)
      check("rebuild")(client, port)
    }
  }
}
