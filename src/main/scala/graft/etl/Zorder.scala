package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file clustering — multi-dimensional data
  * skipping without partition explosion. Sorting a lake by one column
  * clusters that column's predicates only: a filter on any OTHER
  * column still touches every file. Interleaving the bits of several
  * quantized columns into one sort key gives every participating
  * column LOCALITY in the file layout, so parquet min/max stats skip
  * most files for predicates on ANY of them (the layout behind
  * Databricks OPTIMIZE ZORDER BY and Iceberg's sort-order z-curves) —
  * at 100 TB this is the difference between a point-lookup reading a
  * few files and scanning the lake, for columns too high-cardinality
  * to partition by.
  *
  * Quantization reuses the SQ8 posture ([[graft.operators.Sq]]): one
  * order-independent min/max aggregate per column (no sort, no
  * sample), then a linear map to a 16-bit lane. The z-value is a pure
  * Column expression (shift/mask terms — whole-stage codegen), the
  * clustered write is `repartitionByRange` + `sortWithinPartitions`
  * on it: one exchange, one local sort, stats-friendly files.
  *
  * The z column is layout metadata and is DROPPED before writing —
  * the written content is bit-identical to the input rows (spec-pinned
  * by fingerprint), only their file placement changes.
  */
object Zorder {

  /** Lane width: 16 bits for 2-3 columns (≤ 48-bit keys); 15 at 4
    * columns so the 60-bit key stays clear of the long SIGN bit — a
    * 64-bit interleave would put column 3's top lane bit at position
    * 63, making the curve's high corner sort NEGATIVE (before
    * everything), a locality break exactly where the hottest values
    * often live.
    */
  private def laneBits(n: Int): Int = if (n == 4) 15 else 16

  /** Quantized lane for one column given its corpus [min, max]: linear
    * rescale, floor, clamp; a degenerate column (max == min, or a null
    * value) lands in lane 0 — it contributes no discrimination, which
    * is also what its file stats would say.
    */
  private def lane(c: Column, mn: Double, mx: Double, bits: Int): Column =
    if (mx == mn) lit(0L)
    else when(c.isNull || isnan(c.cast("double")), lit(0L)).otherwise(
      // non-finite VALUES get explicit lanes (the clamp would handle
      // +Inf/−Inf arithmetic, but (Inf−mn)/(mx−mn) with an infinite mn
      // or mx is NaN — cast to long that is 0, a silent misplacement):
      // +Inf above everything, −Inf below, matching their sort order
      when(c.cast("double") === lit(Double.PositiveInfinity), lit((1L << bits) - 1))
        .when(c.cast("double") === lit(Double.NegativeInfinity), lit(0L))
        .otherwise(least(greatest(
          floor(((c.cast("double") - lit(mn)) / lit(mx - mn)) * lit((1 << bits) - 1).cast("double")).cast("long"),
          lit(0L)), lit(((1L << bits) - 1)))))

  /** Morton interleave of the columns' quantized lanes: output bit
    * `i * n + j` is bit `i` of column `j`'s lane. 2..4 columns —
    * beyond that z-order locality decays anyway (curse of
    * dimensionality; cluster by the 2-3 columns queries actually
    * filter on).
    */
  def zvalue(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double]): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order needs 2..4 columns, got ${cols.size}")
    require(mins.size == cols.size && maxs.size == cols.size, "stats arity mismatch")
    val n = cols.size
    val bits = laneBits(n)
    val lanes = cols.indices.map(j => lane(cols(j), mins(j), maxs(j), bits))
    val terms = for {
      i <- 0 until bits
      j <- 0 until n
    } yield shiftleft(shiftright(lanes(j), i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Rewrite `df` at `path` as `nFiles` z-clustered parquet files over
    * the given numeric columns. Content is row-identical to the input;
    * only file placement (and therefore per-file min/max stats)
    * changes.
    *
    * The write goes through a sibling tmp dir + [[Compact.replaceDir]]
    * rather than overwriting `path` directly: the PRIMARY use case is
    * re-clustering a lake in place (`df` reads from `path` itself),
    * where a direct overwrite either aborts on Spark's self-overwrite
    * check or — reached through a checkpoint/view — deletes the source
    * mid-plan. The swap also gives the same crash contract as
    * compaction: `path` is at every instant either the old complete
    * copy or the new one, never a partial mix.
    */
  def writeClustered(
      df: DataFrame, path: String, cols: Seq[String], nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    // arity-check BEFORE the corpus-wide stats job (zvalue re-checks,
    // but failing after a 100 TB aggregate is a wasted scan)
    require(cols.size >= 2 && cols.size <= 4,
      s"z-order needs 2..4 columns, got ${cols.size}")
    // min/max over FINITE values only: Spark's max treats NaN as the
    // largest double, so ONE NaN row would otherwise set mx=NaN, and
    // one ±Inf row would set mx=Inf — either way the rescale sends
    // EVERY finite row of that column to lane 0, silently destroying
    // the clustering (content stays correct; only data-skipping is
    // lost). Non-finite rows themselves get explicit lanes at encode
    // time: NaN/null → 0, −Inf → 0, +Inf → top lane.
    def finite(c: Column) =
      when(!isnan(c) && abs(c) < lit(Double.PositiveInfinity), c)
    val aggs = cols.flatMap(c => Seq(
      min(finite(col(c).cast("double"))).as(s"mn_$c"),
      max(finite(col(c).cast("double"))).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val mins = cols.indices.map(i => if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i))
    val maxs = cols.indices.map(i => if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1))
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    Compact.replaceDir(fs, target, "zorder_") { tmp =>
      df.withColumn("__z", zvalue(cols.map(col), mins, maxs))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }
}
