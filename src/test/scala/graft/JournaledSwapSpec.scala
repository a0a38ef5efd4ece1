package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.etl.Compact
import graft.operators.{Ann, Bm25, Dedup, Sketches}

/** The crash windows of the one journaled whole-directory swap
  * ([[graft.etl.Compact.rewriteJournaled]]), as one table over the six
  * verbs that run through it. Every window starts from a fresh copy of
  * the verb's fixture, and [[crash]] fabricates what a crash at that
  * step leaves beside the target: tmp residue, a park and the swap
  * intent with its manifest. A window either converges — the rerun
  * leaves no tmp, park or intent, and the target reads exactly what
  * the verb's own output reads — or is refused with the park kept.
  */
class JournaledSwapSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A verb of the table. `build` makes the target at a path, `run`
    * applies the verb to it, `observe` is what a reader gets from it,
    * and `rewritesItsOutput` says whether a rerun over the verb's own
    * output writes the target again (the sketch compactions always
    * merge; the others find nothing to do).
    */
  private case class Verb(
      name: String, verb: String, build: String => Unit, run: String => Unit,
      observe: String => Any, rewritesItsOutput: Boolean)

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  private def vectors = {
    val rnd = new scala.util.Random(11)
    (0 until 48).map { i =>
      val v = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.2f)
      v((i % 4) * 2) += 1.0f
      (i.toLong, v)
    }.toDF("id", "emb")
  }

  private val docs = Seq(
    (1L, "red apple pie"), (2L, "red red banana"), (3L, "blue sky"), (4L, ""),
    (5L, "banana banana split"), (6L, "apple sky red"), (7L, "pie crust"))

  private val verbs = Seq(
    Verb("compact", "compact",
      p => spark.range(0, 300).select(col("id"), (col("id") % 13).as("v"))
        .repartition(6).write.parquet(p),
      p => Compact.compact(spark, p): Unit,
      p => sorted(spark.read.parquet(p)),
      rewritesItsOutput = false),
    Verb("compactMgLake", "compact",
      p => (0 until 3).foreach(i =>
        Sketches.mgSketch((Seq.fill(20 + i)("hot") ++ Seq("a", "b", s"c$i")).toDF("key"),
          col("key"), 4, s"i$i").write.mode("append").parquet(p)),
      p => Sketches.compactMgLake(spark, p, 4),
      p => Sketches.mgMergeSketches(spark.read.parquet(p), 4),
      rewritesItsOutput = true),
    Verb("compactSampleLake", "compact",
      p => Seq((1, 100), (101, 200)).foreach { case (lo, hi) =>
        Sketches.pairSampleByKey(
          (lo to hi).map(i => (s"g${i % 2}", i.toLong, (i * 11 % 97).toLong)).toDF("key", "id", "v"),
          col("key"), col("id"), col("v"), 8).write.mode("append").parquet(p)
      },
      p => Sketches.compactSampleLake(spark, p, 8),
      p => sorted(Sketches.mergePairSamples(spark.read.parquet(p), 8)),
      rewritesItsOutput = true),
    Verb("compactHllLake", "compact",
      d => Seq(1 to 100, 80 to 200).foreach(r =>
        Sketches.hllSketchByKey(r.map(i => (s"g${i % 3}", s"v$i")).toDF("key", "v"),
          col("key"), col("v"), p = 6).write.mode("append").parquet(d)),
      d => Sketches.compactHllLake(spark, d, p = 6),
      d => sorted(Sketches.hllMergeSketches(spark.read.parquet(d), col("key"), col("regs"), p = 6)),
      rewritesItsOutput = true),
    Verb("refitIvfIndex", "refit",
      p => Ann.buildIvfIndex(vectors, col("id"), col("emb"), p, nlist = 4),
      p => Ann.refitIvfIndex(spark, p, newNlist = 2),
      p => (Ann.indexOccupancy(spark, p).cells, Dedup.scoped(sorted(Ann.queryIvfIndex(
        spark, p, vectors.filter(col("id") < 4), col("id"), col("emb"), k = 3, nprobe = 4)))),
      rewritesItsOutput = false),
    Verb("rebucketLexIndex", "rebucket",
      p => Bm25.buildLexIndex(docs.toDF("id", "text"), col("id"), col("text"), p, nBuckets = 2),
      p => Bm25.rebucketLexIndex(spark, p, newBuckets = 8),
      p => (Bm25.lexIndexStats(spark, p), sorted(Bm25.queryLexIndex(
        spark, p, Seq((0L, "red banana"), (1L, "sky pie")).toDF("q_id", "q"),
        col("q_id"), col("q"), k = 5)), sorted(Bm25.lexIndexIds(spark, p))),
      rewritesItsOutput = false))

  private def park(target: String, verb: String) = new File(s"${target}__${verb}_old")
  private def intent(target: String) = new File(Compact.swapIntent(new Path(target)).toUri.getPath)
  private def manifest(target: String) = Compact.relFileNames(fs, new Path(target))

  /** Fabricate what a crash of `verb`'s swap over `target` leaves:
    * `parked` (a copy of the pre-swap directory) at the park, the
    * swap intent recording `recorded` as the rewrite's manifest, and
    * no target when `targetGone` (a crash between the two renames).
    */
  private def crash(
      target: String, verb: String, parked: Option[String], recorded: Option[Seq[String]],
      targetGone: Boolean = false): Unit = {
    parked.foreach(p => FileUtils.copyDirectory(new File(p), park(target, verb)))
    if (targetGone) FileUtils.deleteDirectory(new File(target))
    recorded.foreach(m => Files.writeString(intent(target).toPath, m.mkString("\n")))
  }

  private def assertConverged(target: String, verb: String): Unit = {
    assert(!park(target, verb).exists(), s"park left beside $target")
    assert(!intent(target).exists(), s"intent left beside $target")
    assert(!new File(s"${target}__${verb}_tmp").exists(), s"tmp left beside $target")
  }

  for (v <- verbs) test(s"crash windows of the journaled swap: ${v.name}") {
    val base = Files.createTempDirectory(s"graft_swap_${v.name}").toString
    val pristine = s"$base/pristine/t"
    v.build(pristine)
    val before = v.observe(pristine)
    def fresh(window: String, from: String = pristine): String = {
      val t = s"$base/$window/t"
      FileUtils.copyDirectory(new File(from), new File(t))
      t
    }
    val landed = fresh("landed")
    v.run(landed)
    val after = v.observe(landed)
    assertConverged(landed, v.verb)

    // tmp residue only (a crash while writing): cleared, the verb runs
    val t1 = fresh("tmp")
    val residue = new File(s"${t1}__${v.verb}_tmp/part-residue.parquet")
    residue.getParentFile.mkdirs()
    Files.writeString(residue.toPath, "x")
    v.run(t1)
    assertConverged(t1, v.verb)
    assert(v.observe(t1) == after, "tmp residue")

    // intent only (a crash before the first rename or after the park
    // delete): cleared, the verb runs
    val t2 = fresh("intent")
    crash(t2, v.verb, parked = None, recorded = Some(Seq("part-x.parquet")))
    v.run(t2)
    assertConverged(t2, v.verb)
    assert(v.observe(t2) == after, "intent only")

    // park + intent, target gone (between the renames): the park is
    // the data — restored, then the verb is redone
    val t3 = fresh("between")
    crash(t3, v.verb, parked = Some(t3), recorded = Some(manifest(landed)), targetGone = true)
    intercept[Exception](v.observe(t3)) // never reads as empty
    v.run(t3)
    assertConverged(t3, v.verb)
    assert(v.observe(t3) == after, "park + intent, target gone")

    // park + intent, target equal to the manifest (after the swap-in,
    // before the park delete): the target is the rewrite — park dropped
    val t4 = fresh("swapped", from = landed)
    val files4 = manifest(t4)
    crash(t4, v.verb, parked = Some(pristine), recorded = Some(files4))
    v.run(t4)
    assertConverged(t4, v.verb)
    if (!v.rewritesItsOutput) assert(manifest(t4) == files4, "the converged rerun rewrote the target")
    assert(v.observe(t4) == after, "park + intent, target = manifest")

    // park + intent, target NOT the recorded rewrite (recreated while
    // the park held the only pre-swap copy): refused, park kept
    val t5 = fresh("recreated", from = landed)
    crash(t5, v.verb, parked = Some(pristine), recorded = Some(Seq("part-someone-elses.parquet")))
    val e5 = intercept[IllegalArgumentException](v.run(t5))
    assert(e5.getMessage.contains("recorded rewrite"), e5.getMessage)
    assert(park(t5, v.verb).exists() && intent(t5).exists(), "a refused window lost its park")

    // park without intent: not this verb's crash — refused, park kept
    val t6 = fresh("unjournaled")
    crash(t6, v.verb, parked = Some(pristine), recorded = None)
    val e6 = intercept[IllegalArgumentException](v.run(t6))
    assert(e6.getMessage.contains(s"without a ${v.verb} swap intent"), e6.getMessage)
    assert(park(t6, v.verb).exists(), "an unrecognized park was deleted")

    // another verb's park + intent: refused before convergence, so the
    // intent that verb's rerun needs is kept too
    val t7 = fresh("foreign")
    crash(t7, "other", parked = Some(pristine), recorded = Some(Seq("part-x.parquet")))
    val e7 = intercept[IllegalArgumentException](v.run(t7))
    assert(e7.getMessage.contains("recover it before"), e7.getMessage)
    assert(park(t7, "other").exists() && intent(t7).exists(), "a foreign crash lost its park or intent")
    FileUtils.deleteDirectory(park(t7, "other"))
    assert(intent(t7).delete())
    v.run(t7)
    assertConverged(t7, v.verb)
    assert(v.observe(t7) == after, "after the foreign park was recovered")

    // the windows are about the swap, not the data: the fixtures are
    // untouched and the verb changed what it should (or nothing a
    // reader sees, for a compaction)
    assert(v.observe(pristine) == before)
    if (v.verb == "compact") assert(after == before, "compaction changed what the lake reads")
    else assert(after != before, s"${v.name} changed nothing a reader sees")
  }
}
