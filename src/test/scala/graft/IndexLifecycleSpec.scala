package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Bm25, Dedup, Pq, Sq}

/** The persisted-index lifecycle verbs (build → add → remove) of the
  * IVF, IVF-PQ and IVF-SQ8 families, the BM25 remove and the IVF and
  * BM25 compaction: how many Spark jobs each verb runs on a tiny fixed
  * index, pinned as upper bounds, the lake schema every write records, the drop of wrong-dimension base rows, and the write core's
  * refusal of an increment that wrote nothing.
  */
class IndexLifecycleSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 40 dim-8 vectors in four loose clusters, ids 0..39. */
  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until 40).map { i =>
      val v = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.2f)
      v((i % 4) * 2) += 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }
  private lazy val queries = vectors.filter(col("vec_id") < 4)
  private def even = vectors.filter(col("vec_id") % 2 === 0)
  private def odd = vectors.filter(col("vec_id") % 2 === 1)
  private def victims = Seq(3L, 8L, 21L).toDF("id")

  /** Jobs of (build, add, remove) with a query after each write, the
    * way a served index is maintained: the query leaves the sidecars
    * and the lake schema resident, as they are when the next write
    * comes.
    */
  private def lifecycle(
      build: => Unit, add: => Unit, remove: => Unit, query: => Unit): (Int, Int, Int) = {
    val b = jobsDuring(build)
    query
    val a = jobsDuring(add)
    query
    val r = jobsDuring(remove)
    query
    (b, a, r)
  }

  // Upper bounds (build, add, remove): the counts the verbs run on this
  // fixture. The write core and the leaf-removal rewrite read back what
  // they wrote with a known schema, so no verb pays a parquet footer
  // inference job for it. A verb past its bound has added a Spark job
  // to the lifecycle.
  private val budget = Map(
    "ivf" -> (8, 6, 12),
    "ivfpq" -> (9, 8, 12),
    "ivfsq8" -> (13, 8, 12))
  private val bm25RemoveBudget = 26

  private def assertBudget(family: String, got: (Int, Int, Int)): Unit = {
    val (mb, ma, mr) = budget(family)
    info(s"$family jobs: build ${got._1}, add ${got._2}, remove ${got._3}")
    assert(got._1 <= mb, s"$family build ran ${got._1} Spark jobs, budget $mb")
    assert(got._2 <= ma, s"$family add ran ${got._2} Spark jobs, budget $ma")
    assert(got._3 <= mr, s"$family remove ran ${got._3} Spark jobs, budget $mr")
  }

  test("job budget: IVF build, add and remove") {
    val p = tmpDir("graft_life_ivf") + "/ix"
    val got = lifecycle(
      Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), p, nlist = 4),
      Ann.addToIvfIndex(spark, p, odd, col("vec_id"), col("embedding")),
      Ann.removeFromIvfIndex(spark, p, victims, col("id")),
      Dedup.scoped(Ann.queryIvfIndex(
        spark, p, queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2).collect()))
    assert(Ann.indexIds(spark, p).count() == 37)
    assertBudget("ivf", got)
  }

  test("job budget: IVF-PQ build, add and remove") {
    val p = tmpDir("graft_life_ivfpq") + "/ix"
    val got = lifecycle(
      Pq.buildIvfPqIndex(even, col("vec_id"), col("embedding"), p, nlist = 4, m = 2, kSub = 8),
      Pq.addToIvfPqIndex(spark, p, odd, col("vec_id"), col("embedding")),
      Pq.removeFromIvfPqIndex(spark, p, victims, col("id")),
      Dedup.scoped(Pq.queryIvfPqIndex(
        spark, p, vectors, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2).collect()))
    assert(Ann.indexIds(spark, p).count() == 37)
    assertBudget("ivfpq", got)
  }

  test("job budget: IVF-SQ8 build, add and remove") {
    val p = tmpDir("graft_life_ivfsq8") + "/ix"
    val got = lifecycle(
      Sq.buildIvfSq8Index(even, col("vec_id"), col("embedding"), p, nlist = 4),
      Sq.addToIvfSq8Index(spark, p, odd, col("vec_id"), col("embedding")),
      Sq.removeFromIvfSq8Index(spark, p, victims, col("id")),
      Dedup.scoped(Sq.queryIvfSq8Index(
        spark, p, vectors, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2).collect()))
    assert(Ann.indexIds(spark, p).count() == 37)
    assertBudget("ivfsq8", got)
  }

  test("job budget: BM25 remove") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "lazy dogs sleep all day"),
      (3L, "quick brown foxes and quick dogs"),
      (4L, ""),
      (5L, "brown bears eat honey"),
      (6L, "the fox den sits under the hill")).toDF("id", "text")
    val p = tmpDir("graft_life_lex") + "/lex"
    Bm25.buildLexIndex(docs, col("id"), col("text"), p, nBuckets = 4)
    def query() = Bm25.queryLexIndex(
      spark, p, Seq((1L, "quick fox")).toDF("q_id", "q"), col("q_id"), col("q"), k = 3).collect()
    query()
    val n = jobsDuring(Bm25.removeFromLexIndex(
      spark, p, Seq(3L, 4L).toDF("id"), col("id")))
    assert(Bm25.lexIndexIds(spark, p).count() == 4)
    assert(Bm25.lexIndexStats(spark, p).nDocs == 4)
    info(s"bm25 remove jobs: $n")
    assert(n <= bm25RemoveBudget, s"BM25 remove ran $n Spark jobs, budget $bm25RemoveBudget")
  }

  // Compaction rewrites only the fragmented leaves, all of them in one
  // read and one write: a pass is a fixed number of jobs however many
  // leaves there are, and a lake with nothing fragmented costs none.
  private val compactBudget = 3

  test("job budget: IVF and BM25 compaction, and a second pass over a compact lake") {
    val p = tmpDir("graft_life_compact_ivf") + "/ix"
    Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), p, nlist = 4)
    Ann.addToIvfIndex(spark, p, odd, col("vec_id"), col("embedding"))
    def ids() = Ann.indexIds(spark, p).as[Long].collect().toSet
    val ids0 = ids()
    var first: Seq[(String, graft.etl.Compact.CompactStats)] = Nil
    val n1 = jobsDuring { first = Ann.compactIndex(spark, p) }
    assert(first.nonEmpty && first.forall(s => s._2.filesBefore == 2 && s._2.filesAfter == 1),
      s"build + add should leave two files in each cell the add touched: $first")
    assert(ids() == ids0)
    var second: Seq[(String, graft.etl.Compact.CompactStats)] = Nil
    val n2 = jobsDuring { second = Ann.compactIndex(spark, p) }
    assert(second.isEmpty, s"an already-compact index was rewritten: $second")

    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "lazy dogs sleep all day"),
      (3L, "quick brown foxes and quick dogs")).toDF("id", "text")
    val lex = tmpDir("graft_life_compact_lex") + "/lex"
    Bm25.buildLexIndex(docs, col("id"), col("text"), lex, nBuckets = 4)
    Bm25.addToLexIndex(spark, lex,
      Seq((4L, "brown bears eat honey"), (5L, "the fox den sits under the hill")).toDF("id", "text"),
      col("id"), col("text"))
    var lexStats: Seq[(String, graft.etl.Compact.CompactStats)] = Nil
    val n3 = jobsDuring { lexStats = Bm25.compactLexIndex(spark, lex) }
    assert(lexStats.nonEmpty, "the add left no bucket fragmented")
    assert(Bm25.lexIndexIds(spark, lex).count() == 5)
    info(s"compaction jobs: ivf $n1, ivf again $n2, bm25 $n3")
    assert(n1 <= compactBudget, s"IVF compaction ran $n1 Spark jobs, budget $compactBudget")
    assert(n2 == 0, s"compacting an already-compact index ran $n2 Spark jobs")
    assert(n3 <= compactBudget, s"BM25 compaction ran $n3 Spark jobs, budget $compactBudget")
  }

  test("a query right after an IVF-family add or remove runs no more jobs than a warm query") {
    // every write records the codebook, occupancy and base schema it
    // wrote for the new generation, so the first read of that
    // generation loads no sidecar and infers no schema
    // `warmBudget`: the most jobs a warm query may run — its probe is
    // ranked on the driver and its quantizer sidecars are resident, so
    // only the scoring plan (and, for the quantized families, the
    // exact rerank) runs
    def check(family: String, warmBudget: Int)(build: String => Unit, add: String => Unit,
        remove: String => Unit, query: String => Unit): Unit = {
      val p = tmpDir(s"graft_life_fresh_$family") + "/ix"
      build(p)
      query(p)
      val warm = jobsDuring(query(p))
      add(p)
      val afterAdd = jobsDuring(query(p))
      remove(p)
      val afterRemove = jobsDuring(query(p))
      info(s"$family query jobs: warm $warm, after add $afterAdd, after remove $afterRemove")
      assert(warm <= warmBudget, s"$family: a warm query ran $warm jobs, budget $warmBudget")
      assert(afterAdd <= warm, s"$family: a query after the add ran $afterAdd jobs, a warm one $warm")
      assert(afterRemove <= warm, s"$family: a query after the remove ran $afterRemove jobs, a warm one $warm")
    }
    check("ivf", warmBudget = 3)(
      Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), _, nlist = 4),
      Ann.addToIvfIndex(spark, _, odd, col("vec_id"), col("embedding")),
      Ann.removeFromIvfIndex(spark, _, victims, col("id")),
      p => Ann.queryIvfIndex(spark, p, queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2)
        .collect(): Unit)
    check("ivfpq", warmBudget = 8)(
      Pq.buildIvfPqIndex(even, col("vec_id"), col("embedding"), _, nlist = 4, m = 2, kSub = 8),
      Pq.addToIvfPqIndex(spark, _, odd, col("vec_id"), col("embedding")),
      Pq.removeFromIvfPqIndex(spark, _, victims, col("id")),
      p => Dedup.scoped(Pq.queryIvfPqIndex(spark, p, vectors, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2).collect()): Unit)
    check("ivfsq8", warmBudget = 8)(
      Sq.buildIvfSq8Index(even, col("vec_id"), col("embedding"), _, nlist = 4),
      Sq.addToIvfSq8Index(spark, _, odd, col("vec_id"), col("embedding")),
      Sq.removeFromIvfSq8Index(spark, _, victims, col("id")),
      p => Dedup.scoped(Sq.queryIvfSq8Index(spark, p, vectors, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2).collect()): Unit)
  }

  test("each IVF-family query verb refuses the other two layouts and names the right one") {
    // the verb of each layout, with its build and its query on this fixture
    val families = Seq[(String, String => Unit, String => Unit)](
      ("Ann.queryIvfIndex",
        Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), _, nlist = 4),
        p => Ann.queryIvfIndex(spark, p, queries, col("vec_id"), col("embedding"), k = 3)
          .collect(): Unit),
      ("Pq.queryIvfPqIndex",
        Pq.buildIvfPqIndex(even, col("vec_id"), col("embedding"), _, nlist = 4, m = 2, kSub = 8),
        p => Dedup.scoped(Pq.queryIvfPqIndex(spark, p, vectors, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 3).collect()): Unit),
      ("Sq.queryIvfSq8Index",
        Sq.buildIvfSq8Index(even, col("vec_id"), col("embedding"), _, nlist = 4),
        p => Dedup.scoped(Sq.queryIvfSq8Index(spark, p, vectors, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), k = 3).collect()): Unit))
    for ((right, build, _) <- families) {
      val p = tmpDir("graft_layout_misuse") + "/ix"
      build(p)
      for ((wrong, _, query) <- families if wrong != right) {
        val e = intercept[IllegalArgumentException](query(p))
        info(s"$wrong on a $right index: ${e.getMessage}")
        assert(e.getMessage.contains(s"use $right"), e.getMessage)
        assert(families.forall { case (v, _, _) => v == right || !e.getMessage.contains(v) },
          e.getMessage)
      }
    }
  }

  test("a lexical query right after a BM25 write runs no more jobs than a warm query") {
    // every BM25 writer records the postings schema parquet infers for
    // the stats generation it wrote, so the first query of that
    // generation infers nothing
    val p = tmpDir("graft_life_fresh_lex") + "/lex"
    def recorded(): org.apache.spark.sql.types.StructType =
      graft.operators.SidecarMemo(spark, s"$p/stats", "postings")(
      fail(s"no postings schema resident for $p"))
    def query() = Bm25.queryLexIndex(
      spark, p, Seq((1L, "quick fox")).toDF("q_id", "q"), col("q_id"), col("q"), k = 3).collect()
    def step(write: => Unit, name: String): Int = {
      write
      assert(recorded() == spark.read.parquet(s"$p/postings").schema, s"after $name")
      jobsDuring(query())
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps"), (2L, "lazy dogs sleep all day"),
      (3L, "quick brown foxes and quick dogs"), (4L, "")).toDF("id", "text")
    val afterBuild = step(Bm25.buildLexIndex(docs, col("id"), col("text"), p, nBuckets = 4), "build")
    val warm = jobsDuring(query())
    val afterAdd = step(Bm25.addToLexIndex(spark, p,
      Seq((5L, "brown bears eat honey"), (6L, "the fox den")).toDF("id", "text"),
      col("id"), col("text")), "add")
    val afterRemove = step(Bm25.removeFromLexIndex(
      spark, p, Seq(3L, 4L).toDF("id"), col("id")), "remove")
    val afterRebucket = step(Bm25.rebucketLexIndex(spark, p, 8), "rebucket")
    info(s"bm25 query jobs: warm $warm, after build $afterBuild, add $afterAdd, remove $afterRemove, " +
      s"rebucket $afterRebucket")
    for ((n, after) <- Seq(afterBuild -> "build", afterAdd -> "add", afterRemove -> "remove", afterRebucket -> "rebucket"))
      assert(n <= warm, s"a query after the $after ran $n jobs, a warm one $warm")
  }

  test("every IVF-family write records the base-lake schema parquet infers, through compaction") {
    def recorded(p: String): org.apache.spark.sql.types.StructType =
      graft.operators.SidecarMemo(spark, s"$p/codebook", "base")(
        fail(s"no base schema resident for $p"))
    def check(p: String, after: String): Unit =
      assert(recorded(p) == spark.read.parquet(s"$p/base").schema, s"after $after")
    def lifecycle(family: String)(build: String => Unit, add: String => Unit,
        remove: String => Unit): Unit = {
      val p = tmpDir(s"graft_life_schema_$family") + "/ix"
      build(p); check(p, s"$family build")
      add(p); check(p, s"$family add")
      remove(p); check(p, s"$family remove")
      Ann.compactIndex(spark, p); check(p, s"$family compact")
    }
    lifecycle("ivf")(
      Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), _, nlist = 4),
      Ann.addToIvfIndex(spark, _, odd, col("vec_id"), col("embedding")),
      Ann.removeFromIvfIndex(spark, _, victims, col("id")))
    lifecycle("ivfpq")(
      Pq.buildIvfPqIndex(even, col("vec_id"), col("embedding"), _, nlist = 4, m = 2, kSub = 8),
      Pq.addToIvfPqIndex(spark, _, odd, col("vec_id"), col("embedding")),
      Pq.removeFromIvfPqIndex(spark, _, victims, col("id")))
    lifecycle("ivfsq8")(
      Sq.buildIvfSq8Index(even, col("vec_id"), col("embedding"), _, nlist = 4),
      Sq.addToIvfSq8Index(spark, _, odd, col("vec_id"), col("embedding")),
      Sq.removeFromIvfSq8Index(spark, _, victims, col("id")))
  }

  test("a wrong-dimension base row takes no cell: not in the built index, not in knnIvf") {
    val ragged = Seq((100L, Array(1f, 0f, 0f)), (101L, Array.fill(9)(0.5f))).toDF("vec_id", "embedding")
    val base = even.unionByName(ragged)
    val p = tmpDir("graft_life_ragged") + "/ix"
    Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), p, nlist = 4)
    assert(Ann.indexIds(spark, p).as[Long].collect().toSet == (0L until 40L by 2).toSet)
    assert(Ann.indexOccupancy(spark, p).occupancy == 20)
    // persisted ≡ on-the-fly over the same ragged base
    def rows(df: DataFrame) = df.select("q_id", "b_id", "rank").as[(Long, Long, Int)].collect().toSet
    val onTheFly = rows(Ann.knnIvf(base, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 3, nlist = 4, nprobe = 2))
    val persisted = Dedup.scoped(rows(Ann.queryIvfIndex(
      spark, p, queries, col("vec_id"), col("embedding"), k = 3, nprobe = 2)))
    assert(onTheFly.nonEmpty && onTheFly == persisted)
  }

  test("plain-IVF add of a non-empty increment that lands no row is refused, index unchanged") {
    val p = tmpDir("graft_life_ivf_refuse") + "/ix"
    Ann.buildIvfIndex(even, col("vec_id"), col("embedding"), p, nlist = 4)
    def ids() = Ann.indexIds(spark, p).as[Long].collect().toSet
    def codebook() = spark.read.parquet(s"$p/codebook")
      .select("cell", "centroid_d", "members").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2))).toSet
    val (ids0, cb0) = (ids(), codebook())
    // wrong dimension: every row is dropped, nothing is written
    val wrongDim = Seq((100L, Array(1f, 0f, 0f)), (101L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    // and null vectors or null elements, which take no cell at all
    val nulls = Seq((104L, null), (105L, Array[java.lang.Float](1f, null, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    for (inc <- Seq(wrongDim, nulls)) {
      val e = intercept[IllegalArgumentException](
        Ann.addToIvfIndex(spark, p, inc, col("vec_id"), col("embedding")))
      assert(e.getMessage.contains("nothing was written"), e.getMessage)
      assert(ids() == ids0)
      assert(codebook() == cb0)
    }
    // a partly valid increment still lands its valid rows; the
    // wrong-dimension row alone is dropped
    val mixed = Seq((102L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)), (103L, Array(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    Ann.addToIvfIndex(spark, p, mixed, col("vec_id"), col("embedding"))
    assert(ids() == ids0 + 102L)
    // an empty increment is a no-op, not a refusal
    Ann.addToIvfIndex(spark, p, mixed.limit(0), col("vec_id"), col("embedding"))
    assert(ids() == ids0 + 102L)
  }
}
