package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation. `cls` is "read", "write" or "check" (a direct
  * call made only to check an answer); a wrong answer found by a later
  * check flips `ok` without dropping the op.
  */
final class Op(val kind: String, val cls: String, val pass: Int,
    val startNs: Long, val endNs: Long, var ok: Boolean, var err: String)

/** Timed operations of a run, failures included. */
final class Recorder {
  private val buf = mutable.ArrayBuffer.empty[Op]

  def ops: List[Op] = buf.synchronized(buf.toList)

  def add(op: Op): Op = { buf.synchronized(buf += op); op }

  /** Time `body`; an exception is a failed op, not an abort. */
  def run[A](kind: String, cls: String, pass: Int)(body: => A): (Op, Option[A]) = {
    val t0 = System.nanoTime()
    try {
      val r = body
      (add(new Op(kind, cls, pass, t0, System.nanoTime(), true, "")), Some(r))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: ${e.getMessage}")
        (add(new Op(kind, cls, pass, t0, System.nanoTime(), false,
          String.valueOf(e.getMessage).take(300))), None)
    }
  }

  def fail(op: Op, why: String): Unit = {
    System.err.println(s"[perfbench] ${op.kind} wrong: $why")
    op.ok = false
    if (op.err.isEmpty) op.err = why.take(300)
  }
}

final case class Ctx(
    spark: SparkSession, work: String, seconds: Double, traced: Boolean,
    cores: Int, setups: Int, tracer: Tracer, rec: Recorder, t0: Long) {
  private val harnessNs = new AtomicLong(0)

  def elapsedS(since: Long): Double = (System.nanoTime() - since) / 1e9

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${elapsedS(t0)}%7.2f s  $msg")

  /** Run one of the benchmark's own steps inside a pass (a copy, a
    * check) and book its CPU time as the harness's, so that
    * [[Main.passes]] can leave it out of the pass's CPU. Sequential
    * steps are measured on the whole JVM, which takes in the Spark jobs
    * a check runs; a step that runs next to the program on another
    * thread (`ownThread`) counts only its own thread's CPU.
    */
  def harness[A](ownThread: Boolean = false)(body: => A): A = {
    val c = if (ownThread) Main.threadCpuNs() else Main.cpuNs()
    try body
    finally harnessNs.addAndGet((if (ownThread) Main.threadCpuNs() else Main.cpuNs()) - c)
  }

  def harnessCpuNs: Long = harnessNs.get

  private val readings = mutable.ArrayBuffer.empty[Long]

  /** Take a host-speed reading ([[Main.hostRefNs]]) before a measured
    * section; run.py scales the run's CPU times by their median.
    */
  def readHost(): Unit = readings += Main.hostRefNs(cores)

  def hostReadings: Seq[Long] = readings.toList
}

/** What a workload hands back: its set-ups, each pass, and any
  * workload-specific numbers.
  */
final case class Outcome(setups: Seq[Setup], passes: Seq[Pass], extra: Map[String, Double])

/** One set-up's wall time and the CPU time the whole JVM spent in it. */
final case class Setup(wallNs: Long, cpuNs: Long)

/** A pass's interval, the CPU time the whole JVM spent in it less the
  * harness's share, and that share.
  */
final case class Pass(startNs: Long, endNs: Long, cpuNs: Long, harnessCpuNs: Long, traced: Boolean)

/** Runs one workload in this JVM and writes its raw record (ops,
  * passes, set-up time, trace) as JSON for run.py to reduce.
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1 --cores N --setups R --out FILE
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "search_serve" -> SearchServe.run,
    "maintain_batch" -> MaintainBatch.run)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val spark = graft.GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    (0 until 3).foreach(_ => hostRefNs(cores, 400))  // compile the hash loop
    val traced = a("trace") == "1"
    val ctx = Ctx(spark, work, a("seconds").toDouble, traced, cores, a("setups").toInt,
      new Tracer(spark, traced), new Recorder, t0)
    val out = try Workloads(a("workload"))(ctx) catch {
      case NonFatal(e) =>
        spark.stop()
        throw e
    }
    ctx.readHost()
    // what the workload leaves on the heap: used heap after a full GC
    System.gc()
    val liveHeapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val record = Json.obj(
      "cores" -> Json.num(cores),
      "spark_version" -> Json.str(spark.version),
      "jvm_version" -> Json.str(System.getProperty("java.runtime.version")),
      "session_s" -> Json.num(sessionS),
      "setups" -> Json.arr(out.setups.map { s =>
        Json.obj("wall_ns" -> Json.num(s.wallNs), "cpu_ns" -> Json.num(s.cpuNs))
      }),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "host_ref_ns" -> Json.arr(ctx.hostReadings.map(Json.num(_))),
      "passes" -> Json.arr(out.passes.map { p =>
        Json.obj("start_ns" -> Json.num(p.startNs), "end_ns" -> Json.num(p.endNs),
          "cpu_ns" -> Json.num(p.cpuNs), "harness_cpu_ns" -> Json.num(p.harnessCpuNs),
          "traced" -> Json.bool(p.traced))
      }),
      "ops" -> Json.arr(ctx.rec.ops.map { o =>
        Json.obj("kind" -> Json.str(o.kind), "cls" -> Json.str(o.cls), "pass" -> Json.num(o.pass),
          "start_ns" -> Json.num(o.startNs), "end_ns" -> Json.num(o.endNs),
          "ok" -> Json.bool(o.ok), "err" -> Json.str(o.err))
      }),
      "extra" -> Json.obj(out.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "peak_rss_mb" -> Json.num(ProcIo.peakRssMb()),
      "trace" -> (if (traced) ctx.tracer.toJson else Json.obj()))
    Json.write(a("out"), record)
    spark.stop()
  }

  /** CPU time of the whole JVM so far: all threads, user and system. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Mean CPU time per thread that `cores` threads take to hash a
    * fixed buffer a fixed number of times: a reading of how fast this
    * host runs right now, taken next to the measured work. The code is
    * the JDK's, not the program's, so no change to the program moves it.
    */
  def hostRefNs(cores: Int, rounds: Int = 3000): Long = {
    val buf = new Array[Byte](64 * 1024)
    val total = new AtomicLong(0)
    val threads = (0 until cores).map { _ =>
      new Thread(() => {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val c = threadCpuNs()
        var i = 0
        while (i < rounds) { md.update(buf); i += 1 }
        md.digest()
        total.addAndGet(threadCpuNs() - c)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    total.get / cores
  }

  /** CPU time of the calling thread so far. */
  def threadCpuNs(): Long = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** Set up `ctx.setups` times and hand back each set-up's cost and
    * the last one's result. Every set-up but the last is torn down
    * (untimed) before the next starts. The first runs on a cold JVM,
    * the others on a warm one; the metric is their median.
    */
  def setups[A](ctx: Ctx)(setUp: Int => A)(tearDown: A => Unit): (Seq[Setup], A) = {
    val out = mutable.ArrayBuffer.empty[Setup]
    var last: Option[A] = None
    for (i <- 0 until math.max(1, ctx.setups)) {
      last.foreach(tearDown)
      ctx.readHost()
      val c = cpuNs()
      val s = System.nanoTime()
      last = Some(setUp(i))
      out += Setup(System.nanoTime() - s, cpuNs() - c)
      ctx.log(s"set-up ${i + 1} done")
    }
    (out.toSeq, last.get)
  }

  /** Run `pass(i)` until `seconds` have passed since the first one
    * started (at least once); a traced run makes one traced pass.
    */
  def passes(ctx: Ctx)(pass: Int => Unit): Seq[Pass] = {
    val out = mutable.ArrayBuffer.empty[Pass]
    val start = System.nanoTime()
    def one(i: Int, traced: Boolean): Unit = {
      ctx.readHost()
      val h = ctx.harnessCpuNs
      val c = cpuNs()
      val s = System.nanoTime()
      pass(i)
      val harness = ctx.harnessCpuNs - h
      out += Pass(s, System.nanoTime(), cpuNs() - c - harness, harness, traced)
    }
    if (ctx.traced) {
      ctx.tracer.activate()
      one(0, traced = true)
    } else {
      var i = 0
      while (i == 0 || ctx.elapsedS(start) < ctx.seconds) { one(i, traced = false); i += 1 }
    }
    out.toSeq
  }
}
