package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Process-wide I/O counters from `/proc/self/io` (all threads). */
object ProcIo {
  def read(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) => v.trim.toLongOption.map(k -> _)
          case _ => None
        }
      }.toMap
      finally src.close()
    } catch { case _: java.io.IOException => Map.empty }

  /** Peak resident set of this JVM in MiB (`VmHWM`), or 0 if unknown. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }
}

final case class Span(
    id: Long, parent: Long, name: String, thread: String,
    startNs: Long, endNs: Long, window: Boolean,
    ioStart: Map[String, Long], ioEnd: Map[String, Long], attrs: Map[String, Double])

/** Spans around the benchmark's calls into the program, plus a
  * SparkListener that collects per-job task metrics and per-execution
  * plan shape. Each span tags its thread's Spark job group with the
  * span id, so a job belongs to the innermost span that submitted it.
  * Jobs submitted from threads the benchmark does not own (the HTTP
  * server's handlers) carry no group; they belong to the `window` span
  * whose interval holds their start, which is exact with one client.
  *
  * Everything is kept in memory and written out once at exit. Until
  * [[activate]] (and always in an untraced run), `span` only runs its
  * body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val listener = new Collector
  // wall-clock (ms) minus monotonic (ns) offset, to place listener
  // event times (epoch ms) on the span clock
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  @volatile private var active = false

  /** Start recording: attach the listener; spans from here on count. */
  def activate(): Unit = if (enabled && !active) {
    sc.addSparkListener(listener)
    active = true
  }

  def span[A](name: String, window: Boolean = false, attrs: Map[String, Double] = Map.empty)(body: => A): A =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      stack.set(id :: parents)
      val io0 = ProcIo.read()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val io1 = ProcIo.read()
        stack.set(parents)
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc.getOrElse(""), interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), name,
            Thread.currentThread().getName, t0, t1, window, io0, io1, attrs)
        }
      }
    }

  /** Wait for the listener bus, then render spans, jobs and executions. */
  def toJson: org.json4s.JValue = {
    if (active) ListenerBusSync.drain(sc)
    Json.obj(
      "epoch_offset_ns" -> Json.num(epochOffsetNs),
      "spans" -> Json.arr(spans.synchronized(spans.toList).map { s =>
        Json.obj(
          "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
          "thread" -> Json.str(s.thread), "start_ns" -> Json.num(s.startNs),
          "end_ns" -> Json.num(s.endNs), "window" -> Json.bool(s.window),
          "io" -> Json.obj(s.ioEnd.keys.toSeq.sorted.map(k =>
            k -> Json.num(s.ioEnd(k) - s.ioStart.getOrElse(k, 0L))): _*),
          "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }: _*))
      }),
      "jobs" -> Json.arr(listener.jobsJson),
      "executions" -> Json.arr(listener.executionsJson))
  }

  private final class JobRec(val id: Int, val group: String, val execId: Long, val startMs: Long) {
    var endMs: Long = -1
    var stages = 0
    val m: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }

  private final class ExecRec(val id: Long, val group: String) {
    var plan: SparkPlanInfo = _
    var filesReadIds: Set[Long] = Set.empty
    var filesRead = 0.0
  }

  /** Task metrics summed per job; plan-node counts per SQL execution. */
  private final class Collector extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val j = new JobRec(e.jobId, group, exec, e.time)
      j.stages = e.stageInfos.size
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobs(e.jobId) = j
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); tm <- Option(e.taskMetrics)) {
        j.m("tasks") += 1
        j.m("run_ms") += tm.executorRunTime
        j.m("cpu_ns") += tm.executorCpuTime
        j.m("gc_ms") += tm.jvmGCTime
        j.m("shuffle_read_bytes") += tm.shuffleReadMetrics.totalBytesRead
        j.m("shuffle_write_bytes") += tm.shuffleWriteMetrics.bytesWritten
        j.m("spill_bytes") += tm.memoryBytesSpilled + tm.diskBytesSpilled
        j.m("input_bytes") += tm.inputMetrics.bytesRead
      }
    }

    private def filesReadIds(p: SparkPlanInfo): Set[Long] =
      p.metrics.filter(_.name == "number of files read").map(_.accumulatorId).toSet ++
        p.children.flatMap(filesReadIds)

    private def setPlan(id: Long, group: String, p: SparkPlanInfo): Unit = {
      val r = execs.getOrElseUpdate(id, new ExecRec(id, group))
      r.plan = p
      r.filesReadIds ++= filesReadIds(p)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          setPlan(s.executionId, s.jobGroupId.getOrElse(""), s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execs.get(u.executionId).foreach(r => setPlan(u.executionId, r.group, u.sparkPlanInfo))
        case d: SparkListenerDriverAccumUpdates =>
          execs.get(d.executionId).foreach { r =>
            d.accumUpdates.foreach { case (acc, v) => if (r.filesReadIds(acc)) r.filesRead += v }
          }
        case _ =>
      }
    }

    private def count(p: SparkPlanInfo, f: String => Boolean): Int =
      (if (f(p.nodeName)) 1 else 0) + p.children.map(count(_, f)).sum

    def jobsJson: List[org.json4s.JValue] = synchronized {
      jobs.values.toList.map { j =>
        Json.obj((Seq(
          "id" -> Json.num(j.id), "group" -> Json.str(j.group), "exec" -> Json.num(j.execId),
          "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
          "stages" -> Json.num(j.stages)) ++
          j.m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }): _*)
      }
    }

    def executionsJson: List[org.json4s.JValue] = synchronized {
      execs.values.toList.filter(_.plan != null).map { r =>
        Json.obj(
          "id" -> Json.num(r.id), "group" -> Json.str(r.group),
          "exchanges" -> Json.num(count(r.plan, _ == "Exchange")),
          "broadcast_exchanges" -> Json.num(count(r.plan, _ == "BroadcastExchange")),
          "wscg_spans" -> Json.num(count(r.plan, _.startsWith("WholeStageCodegen"))),
          "files_read" -> Json.num(r.filesRead))
      }
    }
  }
}
