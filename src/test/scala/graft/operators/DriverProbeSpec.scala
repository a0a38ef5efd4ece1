package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The persisted IVF family's driver-side probe ([[Ann.probeCells]])
  * against the plan it replaces ([[Ann.topProbeCells]], still the
  * on-the-fly operators' probe): on the same query batch and live
  * centroids both must pick the same (q_id, cell) multiset.
  */
class DriverProbeSpec extends graft.SparkSpecBase {

  import spark.implicits._

  /** (q_id, cell) pairs of both probes, each sorted; asserts they agree
    * and returns them.
    */
  private def agree(codebook: Array[Array[Double]], live: Seq[Int],
      queries: DataFrame, nprobe: Int): Seq[(String, Int)] = {
    val cent = Ann.centroidFrame(spark, codebook, Some(live))
    val q = Ann.localBatch(Ann.validQueries(queries, col("q_id"), col("vec")))
    def sorted(ps: Seq[(Any, Int)]) = ps.map { case (id, c) => (String.valueOf(id), c) }.sorted
    val driver = sorted(Ann.probeCells(q.collect().toSeq, q.schema("q_emb").dataType,
      cent.collect().toSeq, nprobe))
    val plan = sorted(Ann.topProbeCells(q, cent, nprobe).collect().toSeq
      .map(r => (r.get(0), r.getInt(1))))
    assert(driver == plan, s"nprobe $nprobe: driver probe $driver, plan $plan")
    driver
  }

  private def seeded(seed: Long, cells: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(cells, dim)(rnd.nextGaussian())
  }

  test("seeded fixtures: the driver probe picks the plan's cells at every nprobe") {
    for (seed <- 1L to 4L) {
      val codebook = seeded(seed, 8, 6)
      val rnd = new scala.util.Random(seed + 100)
      val queries = (0 until 12).map(i => (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
        .toDF("q_id", "vec")
      val live = (0 until 8).filter(_ != seed.toInt) // one dead cell per fixture
      for (nprobe <- Seq(1, 3, 7))
        assert(agree(codebook, live, queries, nprobe).size == 12 * nprobe)
    }
  }

  test("tied sims break by cell ascending, as the k-buffer does") {
    // cells 0 and 2 are twins, and cells 1 and 3 tie with them for
    // (1, 1): every sim of the first query ties
    val codebook = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(0.0, 2.0))
    val queries = Seq((1L, Array(1f, 1f)), (2L, Array(1f, 0f)), (3L, Array(0f, 3f))).toDF("q_id", "vec")
    for (nprobe <- 1 to 3) {
      val got = agree(codebook, 0 to 3, queries, nprobe)
      assert(got.filter(_._1 == "1").map(_._2) == (0 until nprobe))
    }
  }

  test("a zero-norm live centroid ranks last, at -2, and is probed once nprobe reaches it") {
    val codebook = Array(Array(0.0, 0.0, 0.0), Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0))
    val queries = Seq((1L, Array(-1f, 0f, 0f)), (2L, Array(0f, 1f, 0f))).toDF("q_id", "vec")
    assert(!agree(codebook, 0 to 2, queries, 2).exists(_._2 == 0))
    // nprobe at and past the live-cell count: every live cell, once
    for (nprobe <- Seq(3, 5))
      assert(agree(codebook, 0 to 2, queries, nprobe).groupBy(_._1).values.forall(_.map(_._2).sorted == (0 to 2)))
  }

  test("duplicate and null q_ids group as the plan's aggregate groups them") {
    val codebook = seeded(7L, 5, 4)
    val queries = Seq(
      (Some(1L), Array(1f, 0f, 0f, 0f)), (Some(1L), Array(0f, 0f, 1f, 0f)),
      (None, Array(0f, 1f, 0f, 0f)), (None, Array(0f, 0f, 0f, 1f)),
      (Some(2L), Array(0.5f, 0.5f, 0f, 0f))).toDF("q_id", "vec")
    val got = agree(codebook, 0 to 4, queries, 3)
    assert(got.count(_._1 == "1") == 3 && got.count(_._1 == "null") == 3)
    // a repeated q_id ranks the union of its rows: a cell may come twice
    val twice = agree(codebook, 0 to 4, queries.filter(col("q_id") === 1L).unionByName(
      queries.filter(col("q_id") === 1L)), 4)
    assert(twice.distinct.size < twice.size)
  }

  test("array<double> query vectors rank like their float form") {
    val codebook = seeded(11L, 6, 5)
    val rnd = new scala.util.Random(12L)
    val rows = (0 until 8).map(i => (i.toLong, Array.fill(5)(rnd.nextGaussian())))
    val doubles = rows.toDF("q_id", "vec")
    assert(doubles.schema("vec").dataType.simpleString == "array<double>")
    for (nprobe <- Seq(1, 4, 6)) agree(codebook, 0 to 5, doubles, nprobe)
  }
}
