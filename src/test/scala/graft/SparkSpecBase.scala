package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per suite; small core count
  * keeps test startup cheap).
  */
abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").getOrCreate()
    // WARN, matching src/test/resources/log4j2.properties: INFO-level
    // scheduler spew slows the suite and pushes real failures out of
    // bounded log tails (belt and braces — the properties file covers
    // the session-construction window, this covers a session built
    // before log4j re-reads config)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs — counted by a listener, the
    * bus drained on both sides so no earlier job leaks in and no late
    * event is missed.
    */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Root paths of each file scan in `df`'s plan, cached parts
    * included: a read of some leaves of a partitioned lake lists those
    * leaves, a whole-lake read lists the lake root.
    */
  def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def roots(p: LogicalPlan): Seq[Seq[String]] = p.flatMap {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Seq(r.location.rootPaths.map(_.toString))
        case _ => Nil
      }
      case m: InMemoryRelation => roots(m.cacheBuilder.logicalPlan)
      case _ => Nil
    }
    roots(df.queryExecution.optimizedPlan)
  }

  override def afterAll(): Unit = {
    // keep the session for other suites (getOrCreate shares it)
    super.afterAll()
  }
}
