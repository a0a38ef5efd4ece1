package graftbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.json4s._

import graft.operators.{Ann, Bm25, Dedup, Fusion}
import graft.serve.HttpApi

/** Read path over `HttpApi`: closed-loop clients send a seeded mix of
  * lexical / ann / hybrid GETs and 16-query POST batches against a
  * persisted BM25 index and IVF index built in set-up.
  *
  * Inputs (from gen.py): `tables/{documents,embeddings}.parquet` and
  * `requests.json` = {k, clients, pass_size, warm: [req], requests: [req]},
  * a req being {kind, q?, vec?, qs?}; a batch is 16 lexical queries.
  */
object SearchServe {
  final case class Req(kind: String, q: Option[String], vec: Option[Array[Float]], qs: Seq[String])

  private def req(j: JValue): Req = Req(
    (j \ "kind").asInstanceOf[JString].s,
    j \ "q" match { case JString(s) => Some(s); case _ => None },
    j \ "vec" match { case a: JArray => Some(Json.floats(a)); case _ => None },
    Json.strs(j \ "qs"))

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val spec = Json.parseFile(s"${ctx.work}/requests.json")
    val k = Json.int(spec \ "k", 10)
    val passSize = Json.int(spec \ "pass_size", 16)
    // one client in the traced run, so every job inside a request's
    // window belongs to that request
    val clients = if (ctx.traced) 1 else Json.int(spec \ "clients", 2)
    val warm = (spec \ "warm").asInstanceOf[JArray].arr.map(req)
    val reqs = (spec \ "requests").asInstanceOf[JArray].arr.map(req).toVector

    val docs = spark.read.parquet(s"${ctx.work}/tables/documents.parquet")
    val embs = spark.read.parquet(s"${ctx.work}/tables/embeddings.parquet")
    val http = HttpClient.newHttpClient()

    def request(port: Int, r: Req): HttpRequest = {
      val base = s"http://127.0.0.1:$port/search"
      val vecP = r.vec.map(v => s"&vec=${v.mkString(",")}").getOrElse("")
      val b = r.kind match {
        case "batch" =>
          val body = Json.obj("queries" -> Json.arr(r.qs.zipWithIndex.map { case (q, i) =>
            Json.obj("id" -> Json.num(i), "q" -> Json.str(q))
          }))
          HttpRequest.newBuilder(URI.create(s"$base/lexical?k=$k"))
            .POST(HttpRequest.BodyPublishers.ofString(Json.render(body)))
        case kind =>
          HttpRequest.newBuilder(URI.create(
            s"$base/$kind?k=$k${r.q.map(q => s"&q=${enc(q)}").getOrElse("")}$vecP")).GET()
      }
      b.build()
    }
    def send(port: Int, r: Req): HttpResponse[String] =
      http.send(request(port, r), HttpResponse.BodyHandlers.ofString())

    // set-up: persisted indexes, the server, one request of each verb
    // (sent together, as independent callers would)
    val (setups, (api, port, lex, ann)) = Main.setups(ctx) { i =>
      val lex = s"${ctx.work}/idx/$i/lex"
      val ann = s"${ctx.work}/idx/$i/ann"
      Bm25.buildLexIndex(docs, col("doc_id"), col("text"), lex)
      Ann.buildIvfIndex(embs, col("vec_id"), col("embedding"), ann)
      val api = new HttpApi(spark, () => graft.analyze.Findings.toDS(spark, Nil).toDF,
        lexIndexPath = Some(lex), annIndexPath = Some(ann))
      val port = api.start(0)
      val pending = warm.map(r => r -> http.sendAsync(request(port, r), HttpResponse.BodyHandlers.ofString()))
      for ((r, f) <- pending) {
        val resp = f.join()
        require(resp.statusCode == 200, s"warm-up ${r.kind} -> ${resp.statusCode}: ${resp.body.take(200)}")
      }
      (api, port, lex, ann)
    } { case (api, _, _, _) => api.stop() }

    /** 200, valid JSON, at most k rows per query. */
    def validate(r: Req, resp: HttpResponse[String]): Either[String, List[JValue]] =
      if (resp.statusCode != 200) Left(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}")
      else scala.util.Try(Json.parse(resp.body) \ "results").toOption match {
        case Some(JArray(rows)) =>
          val perQ = if (r.kind == "batch") rows.groupBy(x => Json.int(x \ "q_id", -1)).values.map(_.size)
            else Seq(rows.size)
          if (perQ.exists(_ > k)) Left(s"more than $k rows for one query") else Right(rows)
        case _ => Left(s"no results array in ${resp.body.take(200)}")
      }

    // after the timed section the first answered request of every kind
    // is answered again by a direct call to its operator, and the two
    // must agree (in a traced run the direct calls also give the
    // serving overhead)
    val sampled = mutable.LinkedHashMap.empty[String, (Req, List[JValue], Op)]
    val next = new AtomicInteger(0)
    // query texts that repeat an earlier one in the run
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val texts, repeats = new AtomicInteger(0)
    val passes = Main.passes(ctx) { p =>
      val stop = (p + 1) * passSize
      next.set(p * passSize)
      val threads = (0 until clients).map { _ =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < stop) {
            val r = reqs(i % reqs.size)
            ctx.harness(ownThread = true) {
              (r.q.toSeq ++ r.qs).foreach { t =>
                texts.incrementAndGet()
                if (!seen.add(t)) repeats.incrementAndGet()
              }
            }
            val (op, resp) = ctx.rec.run(r.kind, "read", p) {
              ctx.tracer.span(s"serve.${r.kind}", window = true)(send(port, r))
            }
            resp.foreach { x =>
              ctx.harness(ownThread = true)(validate(r, x)) match {
                case Left(why) => ctx.rec.fail(op, why)
                case Right(rows) => sampled.synchronized {
                  if (!sampled.contains(r.kind)) sampled(r.kind) = (r, rows, op)
                }
              }
            }
            i = next.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    api.stop()
    ctx.log(s"${passes.size} passes served")

    def direct(r: Req): DataFrame = r.kind match {
      case "lexical" => Bm25.queryLexIndex(spark, lex, Seq((0L, r.q.get)).toDF("q_id", "qtext"),
        col("q_id"), col("qtext"), k).drop("q_id")
      case "ann" => Ann.queryIvfIndex(spark, ann, Seq((0L, r.vec.get)).toDF("q_id", "qvec"),
        col("q_id"), col("qvec"), k).drop("q_id")
      case "hybrid" => Fusion.hybridTopK(spark, lex, ann,
        Seq((0L, r.q.get, r.vec.get)).toDF("q_id", "qtext", "qvec"),
        col("q_id"), col("qtext"), col("qvec"), k, kPerLeg = math.max(k * 2, 20)).drop("q_id")
      case _ => Bm25.queryLexIndex(spark, lex, r.qs.zipWithIndex.map { case (q, i) => (i.toLong, q) }
        .toDF("q_id", "qtext"), col("q_id"), col("qtext"), k)
    }
    val checked = new AtomicInteger(0)
    def check(r: Req, rows: List[JValue], op: Op): Unit = {
      val (_, got) = ctx.rec.run(s"direct.${r.kind}", "check", -1) {
        ctx.tracer.span(s"operators.${operatorOf(r.kind)}") {
          Dedup.scoped { val df = direct(r); (df.columns.toSeq, df.collect().toList) }
        }
      }
      got.foreach { case (cols, want) =>
        checked.incrementAndGet()
        same(cols, want, rows).foreach(why => ctx.rec.fail(op, s"differs from direct call: $why"))
      }
    }
    // side by side, except in a traced run, whose direct calls time
    // each operator alone
    val checks = sampled.values.toList
    if (ctx.traced) checks.foreach { case (r, rows, op) => check(r, rows, op) }
    else {
      val threads = checks.map { case (r, rows, op) => new Thread(() => check(r, rows, op)) }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    Outcome(setups, passes, Map(
      "clients" -> clients.toDouble,
      "repeat_share" -> (if (texts.get == 0) 0.0 else repeats.get.toDouble / texts.get),
      "direct_checks" -> checked.get.toDouble))
  }

  /** Span name of the direct call answering a request of this kind. */
  def operatorOf(kind: String): String = kind match {
    case "ann" => "queryIvfIndex"
    case "hybrid" => "hybridTopK"
    case "batch" => "queryLexIndex.batch"
    case _ => "queryLexIndex"
  }

  /** Served JSON rows against the direct call's rows: same length, same
    * values column by column, both taken in (q_id, rank) order.
    */
  private def same(cols: Seq[String], want0: List[Row], got0: List[JValue]): Option[String] = {
    val qi = cols.indexOf("q_id")
    val ri = cols.indexOf("rank")
    def num(r: Row, i: Int) = if (i < 0) 0L else r.get(i).asInstanceOf[Number].longValue
    def key(r: Row) = (num(r, qi), num(r, ri))
    def jkey(j: JValue) = (Json.int(j \ "q_id", 0).toLong, Json.int(j \ "rank", 0).toLong)
    val want = want0.sortBy(key)
    val got = got0.sortBy(jkey)
    if (want.size != got.size) Some(s"${got.size} rows served, ${want.size} expected")
    else want.zip(got).zipWithIndex.collectFirst(Function.unlift { case ((w, g), i) =>
      cols.zipWithIndex.collectFirst(Function.unlift { case (c, j) =>
        val gv = g \ c
        val ok = w.get(j) match {
          case n: java.lang.Number => gv match {
            case JInt(x) => BigDecimal(x) == BigDecimal(n.toString)
            case JLong(x) => x == n.longValue
            case JDouble(x) => math.abs(x - n.doubleValue) <= 1e-9 * math.max(1.0, math.abs(x))
            case JDecimal(x) => math.abs(x.toDouble - n.doubleValue) <= 1e-9 * math.max(1.0, x.abs.toDouble)
            case _ => false
          }
          case s: String => gv == JString(s)
          case null => gv == JNull || gv == JNothing
          case _ => true
        }
        if (ok) None else Some(s"row $i column $c: served ${gv.values}, direct ${w.get(j)}")
      })
    })
  }
}
