package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only: run declared queries in one quiet JVM with a job-level
  * listener. Per rep it prints `[profile] <name> rep <r> build <b>
  * serve <s> jobs <n>` (the line `tools/bench_gate.py`'s isolation
  * rerun parses, best-of-reps), then one line per Spark job — wall
  * time, description, first stage name — so optimization work can see
  * WHERE a multi-job query (index lifecycles, iterative operators)
  * spends its build seconds instead of guessing from the aggregate.
  * Comma-separated names share the JVM, so an N-query pass pays
  * startup once. Args: name[,name…] [sfDir] [reps].
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class J(id: Int, t0: Long, desc: String, site: String)
    val open = mutable.Map.empty[Int, J]
    val done = mutable.ArrayBuffer.empty[(J, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
        open(e.jobId) = J(e.jobId, System.nanoTime(), desc, site)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        open.remove(e.jobId).foreach(j => done += ((j, System.nanoTime())))
      }
    })

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (r <- 1 to reps) {
        done.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t2 = System.nanoTime()
        // listener bus is async; give it a beat to drain
        Thread.sleep(300)
        println(f"[profile] $name rep $r build ${(t1 - t0) / 1e9}%.3f serve ${(t2 - t1) / 1e9}%.3f jobs ${done.size}")
        val snap = done.synchronized(done.toVector)
        snap.sortBy(_._1.id).foreach { case (j, tEnd) =>
          val phase = if (j.t0 < t1) "build" else "serve"
          println(f"[job] ${j.id}%4d $phase ${(tEnd - j.t0) / 1e9}%7.3f  ${j.site.take(60)}%-60s ${j.desc.take(80)}")
        }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
