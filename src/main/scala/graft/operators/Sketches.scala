package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Distinct-count sketching via K-minimum-values (KMV / bottom-k) —
  * the Θ-sketch family (Bar-Yossef et al., RANDOM'02; Apache
  * DataSketches' theta sketch): hash every value to (0, 1], keep the k
  * smallest DISTINCT hashes, and estimate the distinct count from how
  * tightly they crowd zero: `D ≈ (k−1) / h_(k)` with `h_(k)` the k-th
  * smallest normalized hash. Standard error ≈ 1/√(k−2) (~12% at k=64,
  * ~6% at k=256).
  *
  * Why not `approx_count_distinct`? Spark's HLL++ is engine-internal:
  * its registers are neither portable nor replayable, so a result can
  * only be spot-checked against tolerance. KMV built on the repo's
  * [[Hashing.h60]] is fully DETERMINISTIC: the bottom-k hash set is a
  * pure function of the value set, so the DuckDB oracle replays the
  * sketch bit-for-bit (q22) — the same engine-independence argument
  * that picked hash-threshold sampling over `rand()` in
  * [[Sampling]].
  *
  * Scale shape: a dedup-aware bottom-k buffer (the [[TopK]] k-buffer
  * discipline with an in-buffer distinct check) — map-side partial
  * bottom-k, so the shuffle carries ≤ k hashes per (partition, group)
  * no matter the corpus or its duplication; the sketch is MERGEABLE
  * by construction (union the hash sets, re-take the bottom k — min-k
  * is order-independent), which is what makes it a sketch and not
  * just a sample.
  */
object Sketches {

  /** A built Bloom filter: `mBits` bits in `words` (64 per entry),
    * `kHash` probe positions per value. Driver-held and broadcast as a
    * literal into membership expressions — mBits = 2^20 is 128 KiB, the
    * same order as a quantizer codebook. No false negatives, tunable
    * false-positive rate ≈ (1 − e^(−k·n/m))^k.
    */
  case class BloomFilter(mBits: Int, kHash: Int, words: Array[Long])

  /** The `kHash` probe positions for a 60-bit hash, Kirsch–Mitzenmacher
    * double hashing: `h1 = h & (m−1)`, `h2 = ((h >> log2 m) & (m−1)) | 1`
    * (odd, so the probe sequence walks the whole table),
    * `pos_i = (h1 + i·h2) & (m−1)`. Pure bit arithmetic — an oracle
    * replays it with `&`/`>>` on the same h60.
    */
  private def probes(h: Column, mBits: Int, kHash: Int): Seq[Column] = {
    val mask = lit((mBits - 1).toLong)
    val log2m = java.lang.Integer.numberOfTrailingZeros(mBits)
    val h1 = h.bitwiseAND(mask)
    val h2 = shiftright(h, log2m).bitwiseAND(mask).bitwiseOR(lit(1L))
    (0 until kHash).map(i => (h1 + lit(i.toLong) * h2).bitwiseAND(mask))
  }

  /** Catalyst ShiftRight with a COLUMN shift amount (the functions API
    * only takes a literal Int).
    */
  private def shrCol(a: Column, bits: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.ShiftRight(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(bits)))

  /** Catalyst ShiftLeft with a COLUMN shift amount (same gap as
    * [[shrCol]]).
    */
  private def shlCol(a: Column, bits: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        org.apache.spark.sql.GraftColumnShim.expression(a),
        org.apache.spark.sql.GraftColumnShim.expression(bits)))

  /** Build a Bloom filter over a value column in one distributed pass:
    * hash → probe positions → per-word `bit_or` aggregate → ≤ mBits/64
    * driver rows. Null values are skipped (membership of null is
    * false, like `IN`).
    */
  def bloomBuild(df: DataFrame, value: Column, mBits: Int, kHash: Int): BloomFilter = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    require(kHash >= 1 && kHash <= 16, s"kHash must be in 1..16, got $kHash")
    val wordRows = df
      .filter(value.isNotNull)
      .select(Hashing.h60(value.cast("string")).as("h"))
      .select(explode(array(probes(col("h"), mBits, kHash): _*)).as("pos"))
      .select(
        shiftright(col("pos"), 6).cast("int").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos & 63 AS INT))").as("bit"))
      .groupBy("w").agg(expr("bit_or(bit)").as("word"))
      .collect()
    val words = new Array[Long](mBits / 64)
    wordRows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    BloomFilter(mBits, kHash, words)
  }

  /** Membership test as a pure Column expression over the broadcast
    * literal bitmap: every probe position's bit must be set. False ⇒
    * definitely absent (the no-false-negative guarantee downstream
    * pre-filters lean on); true ⇒ present with probability
    * 1 − fp-rate. Null values test false.
    */
  def bloomContains(b: BloomFilter, value: Column): Column =
    when(value.isNull, lit(false))
      .otherwise(bloomContainsHash(b, Hashing.h60(value.cast("string"))))

  /** [[bloomContains]] over an ALREADY-COMPUTED h60 hash — callers in
    * higher-order lambdas bind the hash to an attribute first
    * (`transform(xs, x -> h60(x))` then `exists(hs, h -> …)`) so the
    * md5 runs once per value instead of once per probe term (HOF
    * lambdas are interpreted — no common-subexpression elimination
    * rescues a repeated hash there).
    */
  def bloomContainsHash(b: BloomFilter, h: Column): Column = {
    val wordsLit = typedLit(b.words.toSeq)
    val checks = probes(h, b.mBits, b.kHash).map { pos =>
      val word = element_at(wordsLit, shiftright(pos, 6).cast("int") + 1)
      shrCol(word, pos.bitwiseAND(lit(63L)).cast("int")).bitwiseAND(lit(1L)) === 1L
    }
    checks.reduce(_ && _)
  }

  /** Per-group distinct-count estimates: one row per key with
    * `n_kept` (≤ k distinct hashes seen), `kth_hash` (the largest kept
    * hash), and `est_distinct`. A group holding fewer than k distinct
    * hashes is EXACT (`est = n_kept`); at ≥ k the KMV estimator kicks
    * in: `(k−1) · 2^60 / kth_hash` (h60 is uniform on [0, 2^60), so
    * `kth_hash / 2^60` is the normalized k-th minimum). Null values
    * are excluded (COUNT DISTINCT semantics).
    */
  /** Dedup-aware bottom-k buffer: keeps the k SMALLEST DISTINCT longs
    * per group. This is what makes the documented shuffle bound true —
    * a plain TopK buffer keeps duplicates (forcing a corpus-wide
    * `.distinct()` exchange first), while this one dedups inside the
    * map-side partial, so the exchange carries ≤ k hashes per
    * (partition, group) no matter how many duplicate values the corpus
    * holds.
    *
    * Buffer is a MUTABLE array with a cached worst (max) value (kryo —
    * it crosses the wire once per partition-group): the previous
    * immutable `Seq` (List) paid O(k) node-hops per index inside O(k)
    * scans — O(k²) per row, which at k=64 over a corpus made the
    * SKETCH aggregation the dominant cost (measured 8.5 s → <1 s at
    * sf0.1; the same disease TopK had). Hot path now: a hash ≥ the
    * cached worst rejects in ONE comparison — the common case once the
    * buffer holds the true bottom-k (a duplicate of a kept hash below
    * the worst still pays one O(k) array scan).
    */
  private[operators] final class BottomBuf(val k: Int) extends Serializable {
    val arr = new Array[Long](k)
    var n = 0
    var worst = Long.MinValue // valid max-of-buffer once n == k
  }

  private class BottomKDistinct(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, BottomBuf, Seq[Long]] {
    private def rescan(b: BottomBuf): Unit = {
      var m = Long.MinValue
      var i = 0
      while (i < b.n) { if (b.arr(i) > m) m = b.arr(i); i += 1 }
      b.worst = m
    }
    private def contains(b: BottomBuf, h: Long): Boolean = {
      var i = 0
      while (i < b.n) { if (b.arr(i) == h) return true; i += 1 }
      false
    }
    override def zero: BottomBuf = new BottomBuf(k)
    override def reduce(b: BottomBuf, h: Long): BottomBuf = {
      if (b.n < k) {
        if (!contains(b, h)) {
          b.arr(b.n) = h; b.n += 1
          if (h > b.worst) b.worst = h
        }
      } else if (h < b.worst && !contains(b, h)) {
        // replace the worst slot, recompute the cached max
        var i = 0
        while (b.arr(i) != b.worst) i += 1
        b.arr(i) = h
        rescan(b)
      } // h >= worst: cannot enter a full bottom-k buffer — O(1) reject
      b
    }
    override def merge(a: BottomBuf, b: BottomBuf): BottomBuf = {
      var i = 0
      while (i < b.n) { reduce(a, b.arr(i)); i += 1 }
      a
    }
    override def finish(buf: BottomBuf): Seq[Long] =
      buf.arr.take(buf.n).sorted.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[BottomBuf] =
      org.apache.spark.sql.Encoders.kryo[BottomBuf]
    // built on the driver and shipped with the aggregator (see HllRegs)
    private val out = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] = out
  }

  def kmvDistinctByKey(
      df: DataFrame, key: Column, value: Column, k: Int): DataFrame =
    kmvEstimate(kmvSketchByKey(df, key, value, k), k)

  /** The KMV sketch itself: one row per key with `mins` = the k
    * smallest DISTINCT h60 hashes of the key's values, sorted
    * ascending. This is the PERSISTABLE form of the bottom-k family —
    * write it as parquet per increment (per day, per source), then
    * [[kmvMergeSketches]] unions increments WITHOUT re-scanning their
    * corpora: bottom-k-distinct is a semilattice, so
    * merge(sketch(A), sketch(B)) is BIT-IDENTICAL to sketch(A ∪ B)
    * (q23's oracle replays exactly that equivalence). Each sketch row
    * is ≤ k longs — increments ship kilobytes, not corpora.
    */
  def kmvSketchByKey(
      df: DataFrame, key: Column, value: Column, k: Int): DataFrame = {
    require(k >= 3, s"KMV needs k >= 3 for a finite-variance estimate, got $k")
    val hashed = df
      .filter(value.isNotNull)
      .select(key.as("key"), Hashing.h60(value.cast("string")).as("h"))
    // bottom-k distinct in ONE aggregate — no corpus-wide distinct()
    // exchange; the buffer dedups map-side (see [[BottomKDistinct]])
    hashed
      .groupBy("key")
      .agg(udaf(new BottomKDistinct(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
        .apply(col("h")).as("mins"))
  }

  /** Merge per-increment sketches down to one sketch per `key`:
    * bottom-k distinct of the union of the `mins` arrays, as pure
    * column algebra (each input row is ≤ k longs, so the collect_list
    * is bounded by increments × k per key — never corpus-sized).
    */
  def kmvMergeSketches(
      sketches: DataFrame, key: Column, mins: Column, k: Int): DataFrame = {
    require(k >= 3, s"KMV needs k >= 3 for a finite-variance estimate, got $k")
    // null-row gate (the hllMergeSketches posture): no sketch verb
    // writes a null mins array, so one is lake corruption — and its
    // silent collect_list skip would quietly bias the merged estimate
    // (or, for an all-null key, produce an EMPTY mins array that dies
    // in kmvEstimate's element_at with an unnamed index error)
    val checked = when(
      coalesce(
        assert_true(mins.isNotNull,
          lit("kmvMergeSketches: NULL mins row -- corrupt sketch lake")).isNull,
        lit(true)),
      mins)
    sketches.groupBy(key.as("key"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(checked)))), 1, k)
        .as("mins"))
  }

  /** Estimator tail shared by the one-shot and the merged forms —
    * single owner of the estimate arithmetic so the q22/q23 oracles
    * replay one formula: exact under k, `(k−1)·2^60 / kth_hash` at
    * capacity.
    */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.select(
      col("key"),
      size(col("mins")).as("n_kept"),
      // mins sorted ascending; last entry = the k-th smallest
      element_at(col("mins"), size(col("mins"))).as("kth_hash"),
      col("mins"))
      .select(
        col("key"),
        col("n_kept"),
        col("kth_hash"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(
            // greatest(…, 1): h60 CAN be exactly 0 (15 leading md5 hex
            // zeros, p = 2^-60) and ANSI division by zero would kill the
            // job; the clamp trades one pathological estimate for
            // liveness and the oracle mirrors it
            (lit((k - 1).toDouble) * lit(1152921504606846976.0)) /
              greatest(col("kth_hash"), lit(1L)).cast("double"))
          .as("est_distinct"))

  /** Full h60 range: 16^15 = 2^60. A sketch UNDER capacity has seen its
    * whole value set, which is the same as "complete below 2^60" — so
    * one θ formula covers both the exact and the estimating regime.
    */
  private val KmvFullRange = 1152921504606846976L

  /** Set-expression cardinalities over two KMV sketches — the theta-
    * sketch set algebra (Dasgupta et al., "Theta-Sketch Framework",
    * 2016; Apache DataSketches' intersection/AnotB): intersection,
    * both differences, union, and Jaccard, WITHOUT touching either
    * corpus. The training-pipeline question this answers: how much does
    * today's crawl snapshot overlap yesterday's (q28 replays exactly
    * that, year-over-year)?
    *
    * Math: below `θ = min(θ_A, θ_B)` (a sketch's θ is its k-th smallest
    * hash at capacity, the full 2^60 range under capacity) each sketch
    * holds EVERY distinct hash of its set — so the sub-θ survivors are
    * a uniform coordinated sample of A ∪ B, and any set expression
    * scales by `2^60 / θ`. When both sketches are under capacity, θ is
    * the full range, the scale factor is exactly 1.0, and every
    * estimate is EXACT — one branch-free formula covers both regimes.
    *
    * Inputs are `(key, mins)` frames from [[kmvSketchByKey]] or
    * [[kmvMergeSketches]] (the persisted-lake form composes directly);
    * `aKey`/`bKey` let a self-join align different keys (q28 joins year
    * y against year y+1). Pure column algebra over ≤ k-long arrays —
    * per-key work is O(k), never corpus-sized, and every number is
    * integer counting plus one multiply-divide, so a DuckDB oracle
    * replays estimates bit-for-bit.
    */
  def kmvSetEstimates(
      a: DataFrame, b: DataFrame, aKey: Column, bKey: Column,
      k: Int): DataFrame = {
    require(k >= 3, s"KMV needs k >= 3 for a finite-variance estimate, got $k")
    val aa = a.select(aKey.as("key"), col("mins").as("a_mins"))
    val bb = b.select(bKey.as("key"), col("mins").as("b_mins"))
    def thetaOf(m: Column): Column =
      when(size(m) < k, lit(KmvFullRange)).otherwise(element_at(m, size(m)))
    // greatest(…, 1): h60 can be exactly 0 (p = 2^-60 per value) and θ
    // divides the scale factor — same liveness clamp as [[kmvEstimate]]
    val j = aa.join(bb, "key")
      .withColumn("theta",
        greatest(least(thetaOf(col("a_mins")), thetaOf(col("b_mins"))), lit(1L)))
      // exclusive θ: the k-th hash itself is dropped (the DataSketches
      // convention — completeness below θ is what the estimator needs)
      .withColumn("af", filter(col("a_mins"), h => h < col("theta")))
      .withColumn("bf", filter(col("b_mins"), h => h < col("theta")))
      .withColumn("n_inter", size(array_intersect(col("af"), col("bf"))))
      .withColumn("n_union", size(array_union(col("af"), col("bf"))))
      .withColumn("n_only_a", size(array_except(col("af"), col("bf"))))
      .withColumn("n_only_b", size(array_except(col("bf"), col("af"))))
    def est(n: Column): Column =
      n.cast("double") * lit(KmvFullRange.toDouble) / col("theta").cast("double")
    j.select(
      col("key"), col("theta"),
      col("n_inter"), col("n_union"), col("n_only_a"), col("n_only_b"),
      est(col("n_inter")).as("est_inter"),
      est(col("n_union")).as("est_union"),
      est(col("n_only_a")).as("est_only_a"),
      est(col("n_only_b")).as("est_only_b"),
      when(col("n_union") > 0,
        col("n_inter").cast("double") / col("n_union").cast("double"))
        .as("jaccard"))
  }

  // ------------------------------------------------------------------ //
  // HyperLogLog (deterministic registers over h60)                     //
  // ------------------------------------------------------------------ //

  /** Register width of the rho suffix: h60 spends `p` bits on the
    * register index, the remaining `60 − p` on the leading-zero probe.
    */
  private def hllRestWidth(p: Int): Int = 60 - p

  /** α_m from the HLL paper (Flajolet–Fusy–Gandouet–Meunier, AofA'07,
    * fig. 3): exact constants for the small register counts, the
    * closed form above them.
    */
  private[graft] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  private def requireHllP(p: Int): Unit =
    require(p >= 4 && p <= 16, s"HLL needs 4 <= p <= 16, got p=$p")

  /** HyperLogLog sketch per key: one row per key with `regs` = the
    * 2^p register values (array<int>, index order). DETERMINISTIC by
    * the same argument as [[kmvSketchByKey]]: register index = the top
    * `p` bits of h60, rho = leading zeros of the remaining `60 − p`
    * bits + 1, register = max rho — a pure function of the value SET,
    * so a DuckDB oracle replays every register bit-for-bit (the
    * anti-`approx_count_distinct` argument again: Spark's HLL++
    * registers are engine-internal and unreplayable).
    *
    * Why carry HLL next to KMV at all: the register array is
    * 2^p · ~6 bits (48 B at p=6) vs KMV's k · 60 bits (480 B at
    * k=64) for comparable error (~1.04/√m vs ~1/√(k−2)) — at a
    * sketch-lake scale of millions of (key, increment) rows the
    * register form is the one production lakes standardize on, and
    * its merge is a plain element-wise max ([[hllMergeSketches]]),
    * associative and idempotent, so merged ≡ one-shot EXACTLY (not
    * just in distribution — the q44 oracle replays that identity).
    *
    * Scale shape: one groupBy(key, idx) with map-side partial max —
    * the shuffle carries ≤ 2^p rows per (partition, key) no matter
    * the corpus or its duplication — then a ≤ 2^p-row array assembly
    * per key. rho uses `bin()` string length (minimal binary, no
    * leading zeros) — integer-exact, no clz needed, and the oracle
    * mirrors it with ltrim-of-bin.
    */
  def hllSketchByKey(
      df: DataFrame, key: Column, value: Column, p: Int): DataFrame = {
    requireHllP(p)
    val m = 1 << p
    val w = hllRestWidth(p)
    val h = Hashing.h60(value.cast("string"))
    val reg = df
      .filter(value.isNotNull)
      .select(key.as("key"), h.as("h"))
      .select(
        col("key"),
        shiftright(col("h"), w).cast("int").as("idx"),
        col("h").bitwiseAND(lit((1L << w) - 1L)).as("rest"))
      // bitlen(rest) = length(bin(rest)) for rest > 0; rho = w − bitlen + 1
      .select(col("key"), col("idx"),
        when(col("rest") === 0L, lit(w + 1))
          .otherwise(lit(w + 1) - length(bin(col("rest"))).cast("int"))
          .as("rho"))
      .groupBy("key", "idx")
      .agg(max(col("rho")).cast("int").as("r"))
    reg
      .groupBy("key")
      .agg(map_from_entries(collect_list(struct(col("idx"), col("r"))))
        .as("mm"))
      .select(col("key"),
        transform(sequence(lit(0), lit(m - 1)),
          i => coalesce(element_at(col("mm"), i), lit(0))).as("regs"))
  }

  /** Merge per-increment HLL sketches down to one per `key`:
    * element-wise register max. Pure column algebra over ≤ increments
    * × 2^p ints per key — never corpus-sized — and EXACT:
    * merge(sketch(A), sketch(B)) is bit-identical to sketch(A ∪ B)
    * because max is associative/commutative/idempotent per register.
    */
  def hllMergeSketches(
      sketches: DataFrame, key: Column, regs: Column, p: Int): DataFrame = {
    requireHllP(p)
    val m = 1 << p
    val zeroRegs = array_repeat(lit(0), m)
    // loud width + null gate (the prioritySample guard discipline):
    // zip_with pads the shorter array with nulls and greatest() skips
    // them, so merging a sketch persisted at a DIFFERENT p would
    // silently yield wrong registers; and a NULL regs row — which no
    // sketch verb ever writes — is lake corruption whose silent
    // collect_list skip would quietly bias the merged estimate. Both
    // fail by name. The guard rides the consumed regs column itself
    // (when's condition must evaluate to pick the branch), so it
    // cannot be pruned.
    val checked = when(
      coalesce(
        assert_true(regs.isNotNull && size(regs) === m,
          concat(lit("hllMergeSketches: "),
            when(regs.isNull, lit("NULL register row -- corrupt lake"))
              .otherwise(concat(lit("register array of length "),
                size(regs).cast("string"),
                lit(s" != 2^p = $m -- this lake holds sketches built " +
                  "at a different p; merge at the ingest p"))))).isNull,
        lit(true)),
      regs)
    sketches.groupBy(key.as("key"))
      .agg(aggregate(collect_list(checked), zeroRegs,
        (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b))).as("regs"))
  }

  /** The HLL estimator over a sketch frame (key, regs): raw estimate
    * `α_m · m² / Σ 2^(−M_j)`, linear counting `m · ln(m / V)` below
    * 2.5·m when zero registers remain (the paper's small-range
    * correction; the 32-bit large-range correction never applies to a
    * 60-bit hash below ~10^16 distincts).
    *
    * Cross-engine determinism discipline: the harmonic sum runs as
    * Σ 2^(60−M_j) in EXACT decimal (each term ≤ 2^60 fits a long; the
    * sum needs 38 digits — m·2^60 passes Long.Max from m = 8 up, the
    * c21 overflow class), so `est_raw = C / double(S)` is one
    * IEEE-defined conversion and one division — bit-identical in any
    * engine. Only the linear-counting branch touches libm (`ln`), and
    * it reports in micro-units (`round(est · 1e6)`, the t09
    * discipline) whose grid is 10 orders coarser than ln's ulp at the
    * branch's ≤ m·ln(m) range. Output: key, v_zero, est_micro, regs.
    */
  def hllEstimate(sketch: DataFrame, p: Int): DataFrame = {
    requireHllP(p)
    val m = 1 << p
    import org.apache.spark.sql.types.DecimalType
    // α_m·m²·2^60 as ONE double literal — the oracle interpolates the
    // exact same constant (shortest round-trip repr), so both engines
    // start the division from the same bits
    val c = hllAlpha(m) * m.toDouble * m.toDouble * 1.152921504606846976e18
    val sScaled = aggregate(col("regs"),
      lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0)),
      (acc, r) => acc +
        shlCol(lit(1L), lit(60) - r).cast(DecimalType(38, 0)))
    val vZero = size(filter(col("regs"), r => r === 0)).cast("long")
    // passenger columns (an n_events riding the same aggregate) pass
    // through untouched — only the internal __raw is dropped
    sketch
      .withColumn("v_zero", vZero)
      .withColumn("__raw", lit(c) / sScaled.cast("double"))
      .withColumn("est_micro",
        round(
          when(col("__raw") <= lit(2.5 * m) && col("v_zero") > 0L,
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
            .otherwise(
              // micro-unit range gate: est·1e6 passes Long.Max at est
              // ≈ 9.22e12 distincts — far above any per-key group this
              // engine serves, but inside the sketch's own ~1e16
              // validity bound, and the long cast would SILENTLY clamp
              // (non-ANSI) or kill the job with a bare overflow
              // (ANSI). Fail by name instead; the guard rides the
              // consumed branch so it cannot be pruned.
              coalesce(
                assert_true(col("__raw") < lit(9.0e12),
                  concat(lit("hllEstimate: estimate "),
                    col("__raw").cast("string"),
                    lit(" exceeds the micro-unit long range (~9e12) -- " +
                      "report in raw units for groups this large")))
                  .cast("double"),
                lit(0.0)) + col("__raw")) * lit(1e6))
          .cast("long"))
      .drop("__raw")
  }

  /** One-shot per-key HLL distinct estimate — [[hllEstimate]] ∘
    * [[hllSketchByKey]], the [[kmvDistinctByKey]] twin.
    */
  def hllDistinctByKey(
      df: DataFrame, key: Column, value: Column, p: Int): DataFrame =
    hllEstimate(hllSketchByKey(df, key, value, p), p)

  /** The α_m·m²·2^60 literal [[hllEstimate]] divides by — exposed so
    * oracle SQL interpolates the IDENTICAL double (shortest
    * round-trip repr survives both engines' literal parse).
    */
  def hllEstimateConstant(p: Int): Double = {
    requireHllP(p)
    val m = 1 << p
    hllAlpha(m) * m.toDouble * m.toDouble * 1.152921504606846976e18
  }

  /** One-pass HLL register aggregator over pre-computed h60 hashes —
    * the STREAMING-STATE form of [[hllSketchByKey]] (differential spec
    * pins bit-equality between the two). Register max is commutative,
    * associative, and idempotent, so this aggregator needs no event
    * buffering, no ordering discipline, and no watermark coupling to
    * reach batch parity — the property that makes the register array
    * the RIGHT streaming state for windowed distinct counts (contrast
    * [[graft.streaming.EwmaStream]], whose fold is order-sensitive and
    * must buffer to the watermark). The buffer is 2^p ints and the
    * map-side partial means the shuffle (or the state store delta)
    * carries one register array per (partition, group), not hashes.
    *
    * Input contract: the COLUMN wrapper filters null hashes at the
    * call site (`when(h.isNotNull, ...)` cannot express "skip" inside
    * a primitive-input Aggregator, so reduce treats the sentinel -1 as
    * absent — h60 itself is non-negative).
    */
  private class HllRegs(p: Int) extends org.apache.spark.sql.expressions
      .Aggregator[Long, Array[Int], Seq[Int]] {
    private val m = 1 << p
    private val w = 60 - p
    override def zero: Array[Int] = new Array[Int](m)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      if (h != -1L) { // exactly -1 = the column wrapper's null sentinel
        // loud contract gate (the prioritySample message discipline):
        // a hash >= 2^60 would index past the register array deep in
        // an executor task, and any OTHER negative (a raw xxhash64)
        // would previously be swallowed as the sentinel and silently
        // undercount — both are caller bugs, both fail by name here
        if (h < 0L || h >= (1L << 60))
          throw new IllegalArgumentException(
            s"hllAgg: hash $h is outside the h60 contract [0, 2^60) " +
              "(and is not the -1 null sentinel) -- pass Hashing.h60 " +
              "output, not a raw 64-bit hash")
        val idx = (h >>> w).toInt
        val rest = h & ((1L << w) - 1L)
        // bitlen(rest) = 64 − nlz(rest); rho = w − bitlen + 1 — the
        // exact arithmetic of the column path's length(bin(rest))
        val rho =
          if (rest == 0L) w + 1
          else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        if (rho > b(idx)) b(idx) = rho
      }
      b
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(b: Array[Int]): Seq[Int] = b.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.Encoders.kryo[Array[Int]]
    // built here, on the driver, and shipped with the aggregator: a
    // task that derives it by Scala reflection under an executor class
    // loader can fail to resolve scala.Nothing
    private val out = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Int]] = out
  }

  /** Column form of [[HllRegs]]: `hllAgg(6)(Hashing.h60(value))`
    * inside any agg — batch groupBy or a streaming windowed
    * aggregation. Null hashes map to the -1 sentinel (COUNT DISTINCT
    * null semantics, same as [[hllSketchByKey]]'s filter).
    */
  def hllAgg(p: Int)(h: Column): Column = {
    requireHllP(p)
    udaf(new HllRegs(p),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      .apply(coalesce(h, lit(-1L)))
  }

  // ------------------------------------------------------------------ //
  // Heavy hitters (Misra–Gries + exact verify)                         //
  // ------------------------------------------------------------------ //

  /** Misra–Gries summary state: ≤ k (item → count) counters plus the
    * total row count seen. Counters are a bounded map — the classic
    * frequency-estimation guarantee is that after processing n rows,
    * every item with true frequency > n/(k+1) still holds a counter,
    * whatever the arrival or merge order (Misra & Gries 1982; merge
    * bound per Agarwal et al., "Mergeable Summaries", PODS'12).
    */
  private[operators] final class MgBuf(val k: Int) extends Serializable {
    val m = new scala.collection.mutable.HashMap[String, Long]()
    var total = 0L
  }

  /** The aggregator's finish shape: the surviving candidate items
    * (sorted for stable display; the GUARANTEE is about membership,
    * not order), their residual counter values (aligned with
    * `candidates`; each underestimates the true count by at most
    * total/(k+1) — the persistable state for incremental merging),
    * and the exact total row count from the same pass.
    */
  case class MgSummary(candidates: Seq[String], counts: Seq[Long], total: Long)

  private class MisraGries(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, MgBuf, MgSummary] {
    override def zero: MgBuf = new MgBuf(k)
    override def reduce(b: MgBuf, key: String): MgBuf = {
      b.total += 1L
      val cur = b.m.getOrElse(key, 0L)
      if (cur > 0L || b.m.size < k) b.m.update(key, cur + 1L)
      else {
        // full and absent: the decrement-all sweep (the incoming item's
        // implicit count of 1 is decremented away with the rest). Each
        // sweep retires k+1 units of count, so it amortizes to O(1)
        // map operations per row.
        val dead = new scala.collection.mutable.ArrayBuffer[String]()
        b.m.foreach { case (key2, c) =>
          if (c == 1L) dead += key2 else b.m.update(key2, c - 1L)
        }
        dead.foreach(b.m.remove)
      }
      b
    }
    override def merge(a: MgBuf, b: MgBuf): MgBuf = {
      b.m.foreach { case (key2, c) => a.m.update(key2, a.m.getOrElse(key2, 0L) + c) }
      a.total += b.total
      if (a.m.size > k) {
        // reduce back to ≤ k counters by subtracting the (k+1)-th
        // largest count from every counter and keeping the strictly
        // positive ones — the merge rule that preserves the n/(k+1)
        // survival bound across arbitrary merge trees
        val counts = a.m.values.toArray
        java.util.Arrays.sort(counts)
        val sub = counts(counts.length - (k + 1)) // (k+1)-th largest
        val dead = new scala.collection.mutable.ArrayBuffer[String]()
        a.m.foreach { case (key2, c) =>
          if (c - sub <= 0L) dead += key2 else a.m.update(key2, c - sub)
        }
        dead.foreach(a.m.remove)
      }
      a
    }
    override def finish(buf: MgBuf): MgSummary = {
      val items = buf.m.keys.toSeq.sorted
      MgSummary(items, items.map(buf.m), buf.total)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[MgBuf] =
      org.apache.spark.sql.Encoders.kryo[MgBuf]
    // built on the driver and shipped with the aggregator (see HllRegs)
    private val out = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[MgSummary]()
    override def outputEncoder: org.apache.spark.sql.Encoder[MgSummary] = out
  }

  /** One-pass Misra–Gries candidate summary over `key` (cast to
    * string; nulls excluded): ≤ k candidate items, guaranteed to
    * include EVERY item with true frequency > total/(k+1). The partial
    * buffers carry ≤ k counters per partition — the aggregation ships
    * kilobytes to one reducer regardless of key cardinality, which is
    * the whole point: a plain `groupBy(key).count()` to find hot keys
    * shuffles every distinct key, and on a skewed 100 TB corpus the
    * hot-key QUESTION is exactly when that shuffle is dangerous.
    */
  def frequentCandidates(df: DataFrame, key: Column, k: Int): MgSummary = {
    require(k >= 1, s"Misra-Gries needs k >= 1, got $k")
    val row = df
      .filter(key.isNotNull)
      .select(key.cast("string").as("key"))
      .agg(udaf(new MisraGries(k), org.apache.spark.sql.Encoders.STRING)
        .apply(col("key")).as("s"))
      .select(col("s.candidates"), col("s.counts"), col("s.total"))
      .head()
    MgSummary(row.getSeq[String](0), row.getSeq[Long](1), row.getLong(2))
  }

  /** EXACT heavy hitters above the canonical Misra–Gries threshold
    * n/(k+1), sketch-pruned: pass 1 runs [[frequentCandidates]] (one
    * scan, ≤ k counters shuffled); pass 2 exactly counts ONLY the ≤ k
    * candidate keys (the IN-list is a pushed parquet filter, so the
    * second scan skips with row-group stats, and the groupBy shuffles
    * ≤ k keys). Because MG guarantees the candidate set is a SUPERSET
    * of the true heavy hitters, the verified output is exactly
    * `{key : count(key) > n/(k+1)}` with exact counts — deterministic
    * and oracle-replayable even though the intermediate candidate set
    * is merge-order dependent (q24 gates this end to end).
    *
    * This is the skew detector that sizes
    * [[ScaleJoins.saltedJoin]]'s bucket count: run it on the join key
    * before committing a shuffle strategy, and salt exactly the keys
    * it returns.
    */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame =
    verifyCandidates(df, key, frequentCandidates(df, key, k), k)

  /** The PERSISTABLE per-increment form of the Misra–Gries summary:
    * one narrow row per surviving counter — `(inc, item, cnt,
    * inc_total)` — ≤ k rows plus one `__total__` marker row per
    * increment (kilobytes whatever the corpus), ready for a sketch
    * lake. The marker row (NULL item — unreachable by data, since
    * [[frequentCandidates]] excludes null keys before the cast)
    * carries the increment's exact row total even when the increment
    * has zero surviving counters, so merged thresholds never
    * undercount. Stamp `inc` uniquely per increment (a date, a
    * source id).
    */
  def mgSketch(df: DataFrame, key: Column, k: Int, inc: String): DataFrame =
    mgRowsDf(df.sparkSession, inc, frequentCandidates(df, key, k))

  /** ALL increments' Misra–Gries summaries in ONE corpus pass — the
    * grouped form of [[mgSketch]]: one `groupBy(inc)` aggregation
    * instead of one filtered scan + driver collect PER increment (the
    * old q26 shape paid increments+1 full scans; this pays exactly
    * one, with map-side partial MG buffers — ≤ k counters per
    * (partition, increment) — doing the shuffle bounding). Output rows
    * are the [[mgSketch]] lake shape: one NULL-item marker per
    * increment carrying the exact non-null-key row total, plus ≤ k
    * counter rows. Increments with zero rows produce nothing (a group
    * that never existed), identical to never calling mgSketch for
    * them.
    *
    * The candidate SET of a summary can differ from the per-increment
    * [[mgSketch]] form (MG buffers merge in scheduler order; both are
    * valid summaries) — every consumer ([[mgMergeSketches]] →
    * [[heavyHittersFromSketches]]) verifies candidates against exact
    * counts, so the served result is identical by the superset
    * guarantee.
    */
  def mgSketchesByInc(df: DataFrame, key: Column, inc: Column, k: Int): DataFrame = {
    require(k >= 1, s"Misra-Gries needs k >= 1, got $k")
    val summaries = df
      .filter(key.isNotNull)
      .select(inc.cast("string").as("inc"), key.cast("string").as("key"))
      .groupBy("inc")
      .agg(udaf(new MisraGries(k), org.apache.spark.sql.Encoders.STRING)
        .apply(col("key")).as("s"))
    // marker first, counters after — exploded from one struct array so
    // the whole lake is a single narrow projection of the aggregate
    summaries.select(
        col("inc"),
        explode(concat(
          array(struct(lit(null).cast("string").as("item"), lit(0L).as("cnt"))),
          expr("zip_with(s.candidates, s.counts, (i, c) -> struct(i AS item, c AS cnt))")
        )).as("e"),
        col("s.total").as("inc_total"))
      .select(col("inc"), col("e.item").as("item"), col("e.cnt").as("cnt"),
        col("inc_total"))
  }

  /** An [[MgSummary]] in the sketch-lake row shape — shared by
    * [[mgSketch]] (per-increment ingest) and [[compactMgLake]] (the
    * merged summary IS a valid increment: MG error adds linearly, so
    * replacing N increments with their merge preserves the global
    * bound).
    */
  private def mgRowsDf(
      spark: org.apache.spark.sql.SparkSession, inc: String, mg: MgSummary): DataFrame = {
    import spark.implicits._
    val counterRows = mg.candidates.zip(mg.counts)
      .map { case (item, c) => (inc, item, c, mg.total) }
    ((inc, null: String, 0L, mg.total) +: counterRows)
      .toDF("inc", "item", "cnt", "inc_total")
  }

  /** Marker-row predicate over sketch-lake rows: the per-increment
    * total marker is the NULL `item` — a value [[frequentCandidates]]
    * can never emit (null keys are excluded before the cast), so no
    * data key can collide with it.
    */
  private def mgIsMarker: Column = col("item").isNull

  /** Merge per-increment MG summaries WITHOUT re-scanning any corpus:
    * sum counters per item, then reduce back to ≤ k by subtracting the
    * (k+1)-th largest summed count and keeping the strictly positive
    * remainder — the same rule the in-pass aggregator applies, so the
    * merged summary keeps the global guarantee: any item with TOTAL
    * frequency > Σtotals/(k+1) survives, even when no single increment
    * flagged it (Agarwal et al., "Mergeable Summaries" — the theorem
    * is exactly that this error adds linearly, not per-merge).
    *
    * Input is the unioned sketch-lake frame (rows from [[mgSketch]]).
    * The aggregation is over ≤ increments × (k+1) rows — never
    * corpus-sized — so the (k+1)-th-largest probe (`limit(k+1)`) and
    * the ≤ k-row collect are bounded by construction.
    */
  def mgMergeSketches(sketches: DataFrame, k: Int): MgSummary = {
    val markers = sketches.filter(mgIsMarker)
    val total = markers.select("inc", "inc_total").distinct()
      .agg(coalesce(sum("inc_total"), lit(0L))).head().getLong(0)
    // max-per-(inc, item) BEFORE the cross-increment sum: the streaming
    // pattern appends increments from foreachBatch, which is
    // at-least-once on failure recovery — a replayed batch re-writes
    // its increment under the SAME label, possibly with a different
    // (but equally valid) counter set. Totals already dedup via the
    // marker distinct; naively summing duplicated counter rows would
    // inflate the (k+1)-th-largest subtraction and could push a true
    // heavy hitter out of the candidate set. max over valid summaries
    // of one increment is itself valid: every counter underestimates
    // the true count (max of underestimates still does), and a
    // per-increment heavy item survives in EVERY valid summary, so it
    // survives the max.
    val summed0 = sketches.filter(!mgIsMarker)
      .groupBy("inc", "item").agg(max("cnt").as("cnt"))
      .groupBy("item").agg(sum("cnt").as("cnt"))
    // ownCache: scopedCache no-ops on a plan the CALLER already cached
    // — the eager unpersist below must release only OUR cache, never
    // steal theirs
    val ownCache =
      summed0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val summed = Dedup.scopedCache(summed0)
    val top = summed.orderBy(desc("cnt"), asc("item")).limit(k + 1).collect()
    val sub = if (top.length <= k) 0L else top.last.getLong(1)
    val kept = summed.filter(col("cnt") - lit(sub) > 0L)
      .orderBy("item")
      .collect().map(r => (r.getString(0), r.getLong(1) - sub))
    // consumption completes HERE (the result is driver-side), so the
    // scoped cache is released immediately — a long-running caller
    // outside a Dedup.scoped extent must not accumulate one
    // CacheManager entry per merge
    if (ownCache) summed.unpersist()
    MgSummary(kept.map(_._1).toSeq, kept.map(_._2).toSeq, total)
  }

  /** Exact global heavy hitters from a sketch LAKE: candidates come
    * from [[mgMergeSketches]] (no corpus rescan), and only the final
    * verify pass touches the unioned corpus — one pushed-IN-list scan
    * + a ≤ k-key groupBy, identical to [[heavyHitters]]' second pass.
    * Output is exactly `{key : count(key) > Σtotals/(k+1)}` over the
    * union — the incremental pipeline's daily shape: sketch each
    * increment at ingest, answer the global skew question with one
    * cheap verify job.
    */
  def heavyHittersFromSketches(
      corpus: DataFrame, key: Column, sketches: DataFrame, k: Int): DataFrame = {
    val mg = mgMergeSketches(sketches, k)
    verifyCandidates(corpus, key, mg, k)
  }

  /** Shared verify tail: exact counts of the candidate keys, strict
    * n/(k+1) threshold (see [[heavyHitters]] for the pushdown
    * contract).
    */
  private def verifyCandidates(
      df: DataFrame, key: Column, mg: MgSummary, k: Int): DataFrame = {
    val thresh = mg.total.toDouble / (k + 1).toDouble
    import org.apache.spark.sql.types._
    val keyType = df.select(key).schema.head.dataType
    val typed: Option[Seq[Any]] = keyType match {
      case LongType    => Some(mg.candidates.map(_.toLong))
      case IntegerType => Some(mg.candidates.map(_.toInt))
      case ShortType   => Some(mg.candidates.map(_.toShort))
      case ByteType    => Some(mg.candidates.map(_.toByte))
      case StringType  => Some(mg.candidates)
      case BooleanType => Some(mg.candidates.map(_.toBoolean))
      case _           => None
    }
    val pruned = typed match {
      case Some(vals) => df.filter(key.isNotNull && key.isin(vals: _*))
      case None => df.filter(key.isNotNull &&
        key.cast("string").isin(mg.candidates: _*))
    }
    pruned
      .select(key.cast("string").as("key"))
      .groupBy("key")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt").cast("double") > thresh)
      .withColumn("n_total", lit(mg.total))
      .withColumn("share", col("cnt").cast("double") / col("n_total").cast("double"))
      .orderBy(desc("cnt"), asc("key"))
  }

  /** Compact an MG sketch lake: replace every increment with ONE
    * merged increment (labelled `__compacted__`), swapped in by the
    * journaled core ([[graft.etl.Compact.rewriteJournaled]]: a crashed
    * earlier compaction converges first, any other verb's parked
    * sibling refuses). Sound because MG merge
    * error adds LINEARLY — the compacted lake answers every future
    * merge with the same Σtotals/(k+1) guarantee as the original.
    * Pre-swap gate: the tmp tree re-merges to the EXACT summary the
    * original lake merged to (≤ k rows — metadata-weight), so a
    * write fault aborts with the original untouched. Run while no
    * increment writer is active (the lake's appenders are batch jobs).
    */
  def compactMgLake(
      spark: org.apache.spark.sql.SparkSession, path: String, k: Int): Unit = {
    val (fs, root) = fsRoot(spark, path)
    graft.etl.Compact.rewriteJournaled(fs, root, "compact") { tmp =>
      if (fs.exists(root)) {
        val src = spark.read.parquet(path)
        // a k narrower than the lake was built with would silently DEGRADE
        // the lake's guarantee (future merges could only promise the
        // smaller k's bound, with nothing recording the loss). The widest
        // increment's counter-row count lower-bounds the ingest k; refuse
        // below it.
        val widest = src.filter(!mgIsMarker)
          .groupBy("inc").agg(count(lit(1)).as("w"))
          .agg(coalesce(max("w"), lit(0L))).head().getLong(0)
        require(k >= widest,
          s"compactMgLake k=$k is narrower than the lake's widest increment " +
            s"($widest counters) — compacting would degrade the n/(k+1) " +
            "guarantee irreversibly; pass the ingest k")
        val mg = mgMergeSketches(src, k)
        mgRowsDf(spark, "__compacted__", mg).coalesce(1)
          .write.parquet(tmp.toString)
        if (mgMergeSketches(spark.read.parquet(tmp.toString), k) != mg)
          throw new IllegalStateException(
            s"compaction of $path would change the merged summary — aborted, original untouched")
      }
    }
  }

  /** Compact a pair-sample lake ([[pairSampleByKey]] increments):
    * [[mergePairSamples]] returns the EXACT increment schema and
    * bottom-k pairs form a true semilattice, so the compacted lake is
    * BIT-equivalent to the original under every future merge. Pre-swap
    * gate: key count and Σn preserved (a lost key or rows would shift
    * every later estimate). Same journaled swap as [[compactMgLake]].
    */
  def compactSampleLake(
      spark: org.apache.spark.sql.SparkSession, path: String, k: Int): Unit = {
    val (fs, root) = fsRoot(spark, path)
    graft.etl.Compact.rewriteJournaled(fs, root, "compact") { tmp =>
      if (fs.exists(root)) {
        val src = spark.read.parquet(path)
        // a k narrower than ingest would TRUNCATE every saturated sample
        // while the key-count/Σn gate still passes (n is exact either
        // way) — breaking the bit-identity-with-one-shot claim silently.
        // The widest stored sample lower-bounds the ingest k; refuse
        // below it.
        val widest = src
          .agg(coalesce(max(size(col("pairs"))), lit(0))).head().getInt(0)
        require(k >= widest,
          s"compactSampleLake k=$k is narrower than the lake's widest sample " +
            s"($widest pairs) — compacting would truncate samples irreversibly; " +
            "pass the ingest k")
        // scopedCache: the merged frame feeds BOTH the gate baseline and
        // the tmp write — without it the lake scan + merge runs twice
        val merged = Dedup.scopedCache(mergePairSamples(src, k))
        val (srcKeys, srcN) = keyCountAndN(merged)
        merged.write.parquet(tmp.toString)
        val (tmpKeys, tmpN) = keyCountAndN(spark.read.parquet(tmp.toString))
        if (tmpKeys != srcKeys || tmpN != srcN)
          throw new IllegalStateException(
            s"compaction of $path would lose data ($srcKeys keys/$srcN rows merged, " +
              s"$tmpKeys/$tmpN rewritten) — aborted, original untouched")
      }
    }
  }

  /** Compact an HLL sketch lake ([[hllSketchByKey]] increments — rows
    * of (key, regs)): [[hllMergeSketches]] returns the EXACT increment
    * schema and element-wise register max is a true semilattice
    * (associative, commutative, idempotent), so the compacted lake is
    * BIT-equivalent to the original under every future merge — the
    * cleanest lake algebra in the file, now with the same lifecycle as
    * KMV/MG/pair-samples. Pre-swap gates: the stored register width
    * must equal 2^p (compacting at the wrong p would mis-index every
    * register — the [[compactMgLake]] k-gate, for width; null register
    * rows are refused too, since collect_list would silently drop
    * them), and the rewritten tree must carry the same key count and
    * the same order-independent content fingerprint as the merged
    * source (a lost key or a corrupted register would shift every
    * later estimate). Same journaled swap as [[compactMgLake]]; run
    * while no increment writer is active.
    */
  def compactHllLake(
      spark: org.apache.spark.sql.SparkSession, path: String, p: Int): Unit = {
    requireHllP(p)
    val m = 1 << p
    val (fs, root) = fsRoot(spark, path)
    graft.etl.Compact.rewriteJournaled(fs, root, "compact") { tmp =>
      if (fs.exists(root)) {
        val src = spark.read.parquet(path)
        val g = src.agg(
          count(lit(1)).as("rows"),
          count(when(col("regs").isNull, lit(1))).as("nulls"),
          coalesce(min(size(col("regs"))), lit(0)).as("mn"),
          coalesce(max(size(col("regs"))), lit(0)).as("mx")).head()
        // an empty lake has nothing to compact
        if (g.getLong(0) > 0L) {
          require(g.getLong(1) == 0L,
            s"compactHllLake: $path holds ${g.getLong(1)} null register row(s) " +
              "-- a corrupt lake; repair before compacting")
          require(g.getInt(2) == m && g.getInt(3) == m,
            s"compactHllLake p=$p expects $m registers per row but the lake " +
              s"holds arrays of ${g.getInt(2)}..${g.getInt(3)} -- pass the ingest p")
          // scopedCache: the merged frame feeds BOTH the gate baseline and
          // the tmp write — without it the lake scan + merge runs twice
          val merged = Dedup.scopedCache(
            hllMergeSketches(src, col("key"), col("regs"), p))
          val (srcKeys, srcFp) = keyCountAndFp(merged)
          merged.write.parquet(tmp.toString)
          val (tmpKeys, tmpFp) = keyCountAndFp(spark.read.parquet(tmp.toString))
          if (tmpKeys != srcKeys || tmpFp != srcFp)
            throw new IllegalStateException(
              s"compaction of $path would change the merged registers " +
                s"($srcKeys keys/fp $srcFp merged, $tmpKeys/$tmpFp rewritten) " +
                "-- aborted, original untouched")
        }
      }
    }
  }

  /** Key count + order-independent content fingerprint (the exact sum
    * of per-row xxhash64 over the full (key, regs) row, as a decimal: a
    * long sum overflows, which ANSI mode raises as an error) for
    * [[compactHllLake]]'s pre-swap comparison: exact on every key and
    * register at metadata cost, unlike a count-only gate.
    */
  private def keyCountAndFp(merged: DataFrame): (Long, BigDecimal) = {
    val r = merged.agg(
      count(lit(1)).as("keys"),
      coalesce(sum(xxhash64(col("key"), col("regs")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("fp")).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def fsRoot(
      spark: org.apache.spark.sql.SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def keyCountAndN(merged: DataFrame): (Long, Long) = {
    val r = merged.agg(
      count(lit(1)).as("keys"),
      coalesce(sum("n"), lit(0L)).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------------------------ //
  // Sample quantiles (bottom-k hash row sample)                        //
  // ------------------------------------------------------------------ //

  /** Bottom-k (hash, value) pair buffer — the [[BottomBuf]] discipline
    * without the distinct check (the hash input is a unique row id, so
    * pairs never repeat): mutable arrays, cached lexicographic-worst
    * slot, O(1) reject once full.
    */
  private[operators] final class PairBuf(val k: Int) extends Serializable {
    val hs = new Array[Long](k)
    val vs = new Array[Long](k)
    var n = 0
    var wi = -1 // index of the lexicographically largest (h, v); valid once n == k
  }

  private class BottomKPairs(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), PairBuf, Seq[(Long, Long)]] {
    private def lt(h1: Long, v1: Long, h2: Long, v2: Long): Boolean =
      h1 < h2 || (h1 == h2 && v1 < v2)
    private def rescanWorst(b: PairBuf): Unit = {
      var w = 0
      var i = 1
      while (i < b.n) {
        if (lt(b.hs(w), b.vs(w), b.hs(i), b.vs(i))) w = i
        i += 1
      }
      b.wi = w
    }
    override def zero: PairBuf = new PairBuf(k)
    override def reduce(b: PairBuf, p: (Long, Long)): PairBuf = {
      if (b.n < k) {
        b.hs(b.n) = p._1; b.vs(b.n) = p._2; b.n += 1
        if (b.n == k) rescanWorst(b)
      } else if (lt(p._1, p._2, b.hs(b.wi), b.vs(b.wi))) {
        b.hs(b.wi) = p._1; b.vs(b.wi) = p._2
        rescanWorst(b)
      } // not smaller than the worst kept pair: O(1) reject
      b
    }
    override def merge(a: PairBuf, b: PairBuf): PairBuf = {
      var i = 0
      while (i < b.n) { reduce(a, (b.hs(i), b.vs(i))); i += 1 }
      a
    }
    override def finish(buf: PairBuf): Seq[(Long, Long)] = {
      val pairs = (0 until buf.n).map(i => (buf.hs(i), buf.vs(i)))
      pairs.sortBy(identity)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[PairBuf] =
      org.apache.spark.sql.Encoders.kryo[PairBuf]
    // built on the driver and shipped with the aggregator (see HllRegs)
    private val out = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Long)]] = out
  }

  /** Per-key quantile estimates from a DETERMINISTIC uniform row
    * sample: hash a unique row id with [[Hashing.h60]], keep the k
    * rows with the smallest hashes per key (a uniform sample — the
    * hash order is independent of the value), and read nearest-rank
    * quantiles off the sorted sample. `n` is the exact group size from
    * the same single pass; groups under k rows keep EVERYTHING, so
    * their quantiles are exact.
    *
    * Why not `approx_percentile`? Same argument as [[kmvSketchByKey]]
    * vs HLL++: Spark's Greenwald–Khanna summary is engine-internal and
    * merge-order sensitive, so it can only be tolerance-checked. The
    * bottom-k row sample is a pure function of the (id, value) set —
    * the DuckDB oracle replays sample membership, the selection rule,
    * and a sample fingerprint bit-for-bit (q25), and the statistical
    * contract (rank error ≈ √(ln(2/δ)/2k) by DKW on the sample) is
    * spec-pinned separately.
    *
    * Scale shape: the pair buffer dedups nothing but bounds everything
    * — ≤ k (hash, value) pairs per (partition, key) cross the wire, so
    * a 100 TB corpus ships megabytes per key group. Values are read as
    * longs (integer-valued metrics: char/token counts, money cents —
    * exact cross-engine arithmetic); `qs` are percentile fractions in
    * [0, 1], emitted as `p<percent>` columns.
    */
  def sampleQuantilesByKey(
      df: DataFrame, key: Column, id: Column, value: Column,
      k: Int, qs: Seq[Double]): DataFrame =
    quantilesFromSample(pairSampleByKey(df, key, id, value, k), qs)

  /** The PERSISTABLE sample itself: one row per key with exact `n` and
    * the bottom-k `(h, v)` pairs (struct array, sorted ascending by
    * (h, v)). Write one per increment to a sample lake; bottom-k of
    * pairs is a SEMILATTICE over row-disjoint increments (unique row
    * ids never collide), so [[mergePairSamples]] reconstructs the
    * one-shot sample BIT-identically without re-scanning any corpus —
    * the q23 lifecycle, for quantiles. Increments must PARTITION the
    * rows (an overlapping increment would double-count `n` and bias
    * the sample).
    */
  def pairSampleByKey(
      df: DataFrame, key: Column, id: Column, value: Column, k: Int): DataFrame = {
    require(k >= 2, s"sample quantiles need k >= 2, got $k")
    // loud gate, not a silent truncation: the long cast below would
    // floor fractional metrics and the cross-engine replay contract
    // (and the estimates) would be quietly wrong. Integer-valued
    // metrics only — route money through Money.cents, floats through
    // an explicit micro-unit scaling, BEFORE calling this.
    requireIntegerMetric(df.select(value).schema.head.dataType)
    // null KEYS are excluded like heavyHitters (GROUP BY over a known
    // stratum; also keeps the q25/q27 oracle's equi-joins — which a
    // null key silently falls out of — in exact parity). Callers that
    // want a null stratum coalesce to a sentinel first, the q27
    // increment-axis discipline.
    df.filter(key.isNotNull && id.isNotNull && value.isNotNull)
      .select(key.as("key"), Hashing.h60(id.cast("string")).as("h"),
        value.cast("long").as("v"))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n"),
        pairSampleAgg(k)(col("h"), col("v")).as("pairs"))
  }

  /** ALL increments' per-key pair samples in ONE corpus pass — the
    * grouped form of [[pairSampleByKey]] over an increment COLUMN
    * (the q26/q27 shape: one `groupBy(inc, key)` aggregation instead
    * of one filtered scan per increment — increments+1 full corpus
    * scans collapse to one). Because bottom-k over unique row hashes
    * is a pure function of the (id, value) SET per (increment, key) —
    * order- and partitioning-independent — each output row is
    * BIT-identICAL to the row [[pairSampleByKey]] produces on that
    * increment's filtered frame. Output: the lake shape
    * (key, n, pairs), one row per (increment, key); the increment
    * label itself is not persisted, exactly like unioning the
    * per-increment frames.
    */
  def pairSamplesByInc(
      df: DataFrame, key: Column, inc: Column,
      id: Column, value: Column, k: Int): DataFrame = {
    require(k >= 2, s"sample quantiles need k >= 2, got $k")
    requireIntegerMetric(df.select(value).schema.head.dataType)
    df.filter(key.isNotNull && id.isNotNull && value.isNotNull)
      .select(inc.cast("string").as("__inc"), key.as("key"),
        Hashing.h60(id.cast("string")).as("h"), value.cast("long").as("v"))
      .groupBy("__inc", "key")
      .agg(
        count(lit(1)).as("n"),
        pairSampleAgg(k)(col("h"), col("v")).as("pairs"))
      .select("key", "n", "pairs")
  }

  /** Column form of the bottom-k pair buffer: `pairSampleAgg(k)(h, v)`
    * inside any agg — the [[hllAgg]] twin for the quantile-sample
    * family. Bottom-k over unique row hashes is a SEMILATTICE
    * (commutative, associative, idempotent over row-disjoint inputs),
    * so it is streaming-safe state exactly like the HLL registers:
    * [[graft.streaming.Streams.windowQuantileSample]] reaches batch
    * parity with no buffering or ordering discipline. Caller contract
    * (same as [[pairSampleByKey]]): h = h60 of a UNIQUE row id, v
    * already integer-valued.
    */
  /** The pair-sample family's loud type gate — single owner for the
    * batch ([[pairSampleByKey]]) and streaming
    * ([[graft.streaming.Streams.windowQuantileSample]]) forms, so the
    * accepted-type contract cannot drift between them: a fractional
    * metric would silently floor under the long cast.
    */
  private[graft] def requireIntegerMetric(
      vt: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    require(vt == LongType || vt == IntegerType || vt == ShortType || vt == ByteType,
      s"sample quantiles take integer-valued metrics, got $vt — " +
        "scale to integer units first (e.g. Money.cents, micro-units)")
  }

  def pairSampleAgg(k: Int)(h: Column, v: Column): Column = {
    require(k >= 2, s"sample quantiles need k >= 2, got $k")
    udaf(new BottomKPairs(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)]())
      .apply(h, v)
  }

  /** Merge per-increment samples down to one per key, pure column
    * algebra: sum the exact counts, re-take the bottom k of the pooled
    * pairs (each input row is ≤ k pairs, so the collect_list is
    * bounded by increments × k per key — never corpus-sized).
    * `array_sort` on the struct array orders by (h, v) — the same
    * lexicographic discipline as the in-pass buffer — so merged ≡
    * one-shot bit-for-bit.
    */
  def mergePairSamples(samples: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"sample quantiles need k >= 2, got $k")
    samples.groupBy("key")
      .agg(
        sum("n").as("n"),
        slice(array_sort(flatten(collect_list("pairs"))), 1, k).as("pairs"))
  }

  /** Estimator tail shared by the one-shot and merged forms (the
    * [[kmvEstimate]] discipline): nearest-rank-lower selection off the
    * sorted sample values, plus `sample_fp` pinning every kept pair.
    */
  def quantilesFromSample(sample: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantile fractions must be in [0, 1], got $qs")
    // p-column names round to whole percents; two fractions landing on
    // one name (0.999 and 1.0 → p100) would emit DUPLICATE columns —
    // every downstream select dies in AMBIGUOUS_REFERENCE, and the
    // survivor silently mislabels its fraction. Refuse by name.
    val names = qs.map(q => s"p${math.round(q * 100)}")
    require(names.distinct.size == names.size,
      s"quantile fractions $qs collide on column name(s) " +
        s"${names.diff(names.distinct).distinct.mkString(", ")} -- " +
        "percent naming is whole-number; space the fractions apart")
    // sample values sorted ascending; nearest-rank-lower selection.
    // Ties in v make every admissible tiebreak return the same v, so
    // the OUTPUT is deterministic even though the v-sort alone isn't.
    val vals = array_sort(transform(col("pairs"), p => p.getField("_2")))
    val m = size(col("pairs"))
    val sel = qs.map { q =>
      val name = s"p${math.round(q * 100)}"
      element_at(vals,
        (floor(lit(q) * (m - lit(1)).cast("double")) + lit(1)).cast("int"))
        .as(name)
    }
    val fp = md5(concat_ws(",", transform(col("pairs"),
      p => concat_ws(":", p.getField("_1").cast("string"),
        p.getField("_2").cast("string"))))).as("sample_fp")
    sample.select(col("key") +: col("n") +: m.as("m_sample") +: sel :+ fp: _*)
  }
}
