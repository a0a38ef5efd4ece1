package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-group top-K as a typed Aggregator (SURVEY §2.10 X5 — the one
  * aggregation shape Spark lacks natively).
  *
  * `row_number().over(Window.partitionBy(g).orderBy(m))` materializes
  * and sorts EVERY row of every group; this Aggregator keeps a k-element
  * buffer per group on the map side, so the shuffle carries at most
  * k rows per (partition, group) — the difference between sorting 100 TB
  * and sorting k×groups rows. Deterministic: (metric desc, id asc).
  *
  * The buffer is a MUTABLE array pair (kryo-encoded — it crosses the
  * wire only once per partition-group at the partial→final exchange):
  * an immutable `Seq` buffer makes every at-capacity row O(k²) (List
  * append/index are O(k)), which at ANN shortlist sizes (k = 100-200)
  * turns the aggregation itself into the query's dominant cost. Here
  * the common case — a row that does not beat the current worst — is
  * O(1) against the cached worst slot, a replacement is one O(k)
  * rescan, and capacity build-up is O(1) per row.
  */
object TopK {

  /** Mutable k-buffer over (metric: Long, id: Long) pairs — shared
    * shape for both aggregators (the Double form stores sims in
    * `dbls`). Tracks the index of the current WORST entry once full,
    * so the hot path rejects non-contenders with one comparison.
    */
  final class Buf(
      val k: Int,
      val dbls: Array[Double], val longs: Array[Long], val ids: Array[Long],
      var n: Int, var worstIdx: Int) extends Serializable {
    def this(k: Int, useDouble: Boolean) = this(
      k,
      if (useDouble) new Array[Double](k) else null,
      if (useDouble) null else new Array[Long](k),
      new Array[Long](k), 0, -1)
  }

  private def mkBuf(k: Int, useDouble: Boolean) = new Buf(k, useDouble)

  /** metric desc, id asc — the deterministic ANN/rank tie order. The
    * Double comparison goes through Double.compare (NaN-safe total
    * order, NaN largest — matching Spark's descending sort) with
    * `+ 0.0` collapsing -0.0 to 0.0 so zero ties break by id.
    */
  private[operators] def beatsD(am: Double, ai: Long, bm: Double, bi: Long): Boolean = {
    val c = java.lang.Double.compare(am + 0.0, bm + 0.0)
    c > 0 || (c == 0 && ai < bi)
  }
  private def beatsL(am: Long, ai: Long, bm: Long, bi: Long): Boolean =
    am > bm || (am == bm && ai < bi)

  private def beats(b: Buf, i: Int, j: Int): Boolean =
    if (b.dbls ne null) beatsD(b.dbls(i), b.ids(i), b.dbls(j), b.ids(j))
    else beatsL(b.longs(i), b.ids(i), b.longs(j), b.ids(j))

  /** True iff (m, id) — with m in whichever lane the buffer uses —
    * beats slot i.
    */
  private def inBeats(b: Buf, md: Double, ml: Long, id: Long, i: Int): Boolean =
    if (b.dbls ne null) beatsD(md, id, b.dbls(i), b.ids(i))
    else beatsL(ml, id, b.longs(i), b.ids(i))

  private def set(b: Buf, i: Int, md: Double, ml: Long, id: Long): Unit = {
    if (b.dbls ne null) b.dbls(i) = md else b.longs(i) = ml
    b.ids(i) = id
  }

  private def rescanWorst(b: Buf): Unit = {
    var w = 0
    var i = 1
    while (i < b.n) { if (beats(b, w, i)) w = i; i += 1 }
    b.worstIdx = w
  }

  /** Hot path — once per input row. O(1) while under capacity; at
    * capacity one comparison against the cached worst slot rejects
    * non-contenders, and a replacement pays one O(k) rescan.
    */
  private def insert(b: Buf, md: Double, ml: Long, id: Long): Buf = {
    if (b.n < b.k) {
      set(b, b.n, md, ml, id)
      b.n += 1
      if (b.n == b.k) rescanWorst(b)
    } else if (inBeats(b, md, ml, id, b.worstIdx)) {
      set(b, b.worstIdx, md, ml, id)
      rescanWorst(b)
    }
    b
  }

  private def mergeInto(a: Buf, b: Buf): Buf = {
    var i = 0
    while (i < b.n) {
      if (b.dbls ne null) insert(a, b.dbls(i), 0L, b.ids(i))
      else insert(a, 0.0, b.longs(i), b.ids(i))
      i += 1
    }
    a
  }

  /** Indices of the buffer sorted (metric desc, id asc). */
  private def sortedIdx(b: Buf): Array[Int] =
    Array.range(0, b.n).sortWith((i, j) => beats(b, i, j))

  case class MetricId(metric: Long, id: Long)

  class TopKLongs(k: Int) extends Aggregator[MetricId, Buf, Seq[MetricId]] {
    require(k >= 1, s"top-k requires k >= 1, got $k") // k=0 would index an empty buffer
    override def zero: Buf = mkBuf(k, useDouble = false)
    override def reduce(buf: Buf, in: MetricId): Buf =
      insert(buf, 0.0, in.metric, in.id)
    override def merge(a: Buf, b: Buf): Buf = mergeInto(a, b)
    override def finish(buf: Buf): Seq[MetricId] =
      sortedIdx(buf).map(i => MetricId(buf.longs(i), buf.ids(i))).toSeq
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    // built here, on the driver, and shipped with the aggregator: a
    // task that derives it by Scala reflection under an executor class
    // loader can fail to resolve scala.Nothing
    private val out = ExpressionEncoder[Seq[MetricId]]()
    override def outputEncoder: Encoder[Seq[MetricId]] = out
  }

  /** Column form: `topK(3)(metricCol, idCol)` inside an agg. */
  def topK(k: Int)(metric: Column, id: Column): Column =
    udaf(new TopKLongs(k), ExpressionEncoder[MetricId]()).apply(metric, id)

  case class ScoredId(sim: Double, id: Long)

  /** Double-metric twin of [[TopKLongs]] for similarity scores (ANN
    * top-k). Same k-buffer shape: map-side partial top-k, shuffle ≤ k
    * rows per (partition, group) instead of the full candidate stream.
    */
  class TopKScored(k: Int) extends Aggregator[ScoredId, Buf, Seq[ScoredId]] {
    require(k >= 1, s"top-k requires k >= 1, got $k") // k=0 would index an empty buffer
    override def zero: Buf = mkBuf(k, useDouble = true)
    override def reduce(buf: Buf, in: ScoredId): Buf =
      insert(buf, in.sim, 0L, in.id)
    override def merge(a: Buf, b: Buf): Buf = mergeInto(a, b)
    override def finish(buf: Buf): Seq[ScoredId] =
      sortedIdx(buf).map(i => ScoredId(buf.dbls(i), buf.ids(i))).toSeq
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    private val out = ExpressionEncoder[Seq[ScoredId]]() // on the driver: see TopKLongs
    override def outputEncoder: Encoder[Seq[ScoredId]] = out
  }

  /** Column form for similarity metrics: `topKScored(5)(simCol, idCol)`. */
  def topKScored(k: Int)(sim: Column, id: Column): Column =
    udaf(new TopKScored(k), ExpressionEncoder[ScoredId]()).apply(sim, id)

  /** Exploded convenience: top-k rows per group with 1-based rank. */
  def perGroup(df: DataFrame, groupCols: Seq[String], metric: Column, id: Column, k: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(topK(k)(metric, id).as("top"))
      .select(
        (groupCols.map(col) :+ posexplode(col("top")).as(Seq("pos", "entry"))): _*)
      .select(
        (groupCols.map(col) :+
          (col("pos") + 1).cast("int").as("rank") :+
          col("entry.metric").as("metric") :+
          col("entry.id").as("id")): _*)
}
