package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Product quantization (PQ) for embedding columns — the FAISS-style
  * memory/IO compression path for 10^9+-vector corpora: each D-dim
  * float vector (4·D bytes) is stored as `m` small centroid codes
  * (m bytes at kSub=256), a 32× reduction at D=64/m=8. The vector is
  * approximated as the concatenation of one centroid per subspace, so
  * approximate scoring reads only the code column from disk and
  * reconstructs in registers — the scan cost drops with the storage.
  *
  * Division of labor mirrors [[Ann.knnIvf]] (the FAISS train/add
  * split): codebooks are fit DRIVER-SIDE per subspace on the shared
  * bounded deterministic sample ([[Ann.sampleVectors]]); encoding of
  * the full base is one distributed narrow pass of `m` native
  * [[graft.functions.expr.NearestCentroid]] expressions over vector
  * slices — no new execution machinery, pure composition of the
  * already-proven pieces (slice + NearestCentroid for encode,
  * zip_with + element_at over a literal codebook + flatten for decode,
  * vec_dot for scoring).
  *
  * [[knnPq]] is shortlist-then-rerank, the standard production PQ
  * deployment: the compressed domain RANKS a shortlist (approximate,
  * engine-side — like IVF's cell selection), then the shortlist pairs
  * are re-scored EXACTLY on the original vectors, so every reported
  * similarity is a true cosine. That makes the v05/v07/v08
  * self-verifying oracle contract apply unchanged, and recall is the
  * only approximate property (measured in ScalaTest vs brute force).
  */
object Pq {

  /** Per-subspace centroid tables: `tables(j)` is (kSub × sub) for
    * subspace j; a vector's code j indexes into it.
    */
  case class Codebooks(m: Int, sub: Int, tables: Array[Array[Array[Double]]])

  /** Fit `m` subspace codebooks of `kSub` centroids each on a bounded
    * deterministic sample. `kSub` clamps to the sample size (like
    * [[Ann.knnIvf]]'s nlist clamp — a small corpus degrades to fewer
    * centroids, never fails nondeterministically). Distinct seeds per
    * subspace: coupled draws would correlate the subspace quantizers.
    */
  def fit(
      base: DataFrame, id: Column, vec: Column, m: Int,
      kSub: Int = 256, seed: Long = 42L, maxFit: Long = 100000L): Codebooks =
    fitFromSample(
      Ann.sampleVectors(base.select(id.as("b_id"), vec.as("b_emb")), maxFit),
      m, kSub, seed)

  /** [[fit]] over an already-collected sample — composed operators
    * ([[knnIvfPq]]) share one sample scan between the coarse and PQ
    * quantizers.
    */
  def fitFromSample(
      sample: Array[Array[Float]], m: Int, kSub: Int, seed: Long): Codebooks = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(sample.nonEmpty, "PQ fit sample is empty -- no base vectors")
    val d = sample(0).length
    require(d % m == 0, s"embedding dim $d is not divisible by m=$m subspaces")
    val sub = d / m
    val eff = math.min(kSub.toLong, sample.length.toLong).toInt
    if (eff < kSub)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"PQ fit sample has ${sample.length} rows < kSub=$kSub -- clamping to $eff centroids")
    val tables = Array.tabulate(m)(j =>
      Quantizer.fit(sample.map(_.slice(j * sub, (j + 1) * sub)), eff, seed + j))
    Codebooks(m, sub, tables)
  }

  /** `array<int>` of `m` codes for a float-array embedding column: one
    * native NearestCentroid per subspace slice (all inside one narrow
    * projection — whole-stage codegen, no shuffle). NULL vectors/
    * elements yield null code elements (the NearestCentroid null
    * contract), but a RAGGED vector does NOT (NearestCentroid scores
    * the overlapping prefix), so callers must ALSO gate on the exact
    * dimension — [[encode]] owns both filters.
    */
  def encodeExpr(vec: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { j =>
      Ann.cellExpr(slice(vec, j * cb.sub + 1, cb.sub), cb.tables(j))
    }: _*)

  /** Reconstructed `array<float>` from a codes column: per subspace,
    * look the code up in the literal codebook and concatenate. Float
    * centroids so the reconstruction scores through the same
    * strict-fold arithmetic as any other embedding.
    */
  def decodeExpr(codes: Column, cb: Codebooks): Column = {
    val litCb = typedLit(
      cb.tables.map(_.map(_.map(_.toFloat).toSeq).toSeq).toSeq)
    flatten(zip_with(codes, litCb, (c, tbl) => element_at(tbl, c + 1)))
  }

  /** Encode the base: (b_id, codes) — the compressed representation a
    * 100 TB pipeline would persist instead of the raw vectors. Rows
    * whose vector cannot be coded are dropped like null join keys:
    * null vectors/elements via the null-code filter, and RAGGED
    * vectors via an explicit dimension gate — NearestCentroid would
    * happily code a wrong-length vector from its overlapping prefix,
    * and such a row could then fill a compressed-domain shortlist only
    * to null out at exact rerank, silently shrinking (or emptying) a
    * query's results.
    */
  def encode(base: DataFrame, id: Column, vec: Column, cb: Codebooks): DataFrame =
    base.filter(size(vec) === cb.m * cb.sub)
      .select(id.as("b_id"), encodeExpr(vec, cb).as("codes"))
      .filter(forall(col("codes"), c => c.isNotNull))

  /** Approximate top-k cosine via PQ shortlist + EXACT rerank:
    *
    *  1. encode the base (narrow; at scale this pass is the write-side
    *     of a persisted code table and the scan below reads m bytes
    *     per row instead of 4·D);
    *  2. score queries in the COMPRESSED domain (broadcast queries,
    *     map-side — same shape as [[Ann.knnBruteForce]]) via ADC
    *     lookup tables ([[lutExpr]]/[[adcExpr]]: m table lookups per
    *     pair, no reconstruction) and keep a per-query shortlist of
    *     `shortlist` candidates (default 4·k);
    *  3. re-join the shortlist pairs to the ORIGINAL vectors and
    *     re-score exactly; report the top k.
    *
    * Every reported `sim` is the exact cosine of the original vectors
    * — only WHICH candidates were considered is approximate (the same
    * contract as IVF's cell probing), so the self-verifying knn oracle
    * applies unchanged. Zero-norm reconstructions are excluded from
    * the shortlist like zero-norm vectors everywhere else (cosine
    * undefined); with real data k-means centroids of non-degenerate
    * samples are never all-zero.
    *
    * SIZING: the absolute defaults suit ~500-2000-vector test bases.
    * At deployment scale derive search effort from the corpus size
    * via [[graft.RecallBoard.scaledAnnParams]] (nlist ~ n/125,
    * nprobe = 7/8 of cells, shortlist ~ n/5) -- fixed absolute knobs
    * measurably lose recall as the corpus grows (SCALE.md round 10).
    */
  def knnPq(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, m: Int = 8, kSub: Int = 256, shortlist: Int = 0,
      seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    val sl = shortlistSize(shortlist, k)
    val cb = fit(base, baseId, baseVec, m, kSub, seed, maxFit)
    val b = Ann.validVectors(base, baseId, baseVec)
    val q = Ann.localBatch(Ann.validQueries(queries, qId, qVec))
    Ann.requireQueryDim(q, cb.m * cb.sub)
    // raw (non-residual) layout: zero centroid in the norm, no
    // q·centroid term in the score — the same ADC owners serve both
    val enc = encode(b, col("b_id"), col("b_emb"), cb)
      .withColumn("d_nrm", reconNormExpr(col("codes"), zeroCent(cb), cb))
      .filter(col("d_nrm") > 0)
      .select("b_id", "codes", "d_nrm")
    // the per-query ADC lookup table rides the broadcast: the scan side
    // pays m lookups per pair, not a D-float decode + D-term dot
    val qLut = q.withColumn("lut", lutExpr(col("q_emb"), cb))
    val approx = enc.crossJoin(broadcast(qLut))
      .select(col("q_id"), col("b_id"),
        (adcExpr(col("codes"), col("lut"), cb) / (col("d_nrm") * col("qp_nrm"))).as("sim"))
    rerankExact(Ann.topkPerQuery(approx, sl), b, q, k)
  }

  private[operators] def shortlistSize(shortlist: Int, k: Int): Int = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl must be >= k=$k")
    sl
  }

  /** Exact rerank of an approximate shortlist — the SINGLE owner of
    * the tail every shortlist family ends with (PQ, IVF-PQ, SQ8,
    * IVF-SQ8, OPQ, PCA, on the fly and persisted), because the
    * self-verifying oracle contract depends on this arithmetic staying
    * bit-identical to [[Ann.knnBruteForce]]'s ([[Ann.exactSim]]).
    * Shortlist pairs only (<= queries × shortlist rows): the wide
    * original vectors travel once per surviving pair, not per
    * compressed-domain comparison. `b` holds the [[Ann.validVectors]]
    * columns, `q` the [[Ann.validQueries]] ones (other columns are
    * dropped).
    *
    * `requireFullCoverage` (the persisted-index paths): the rerank join
    * runs as a LEFT join and a shortlist id with no source row FAILS
    * LOUDLY — the "source holds every indexed id" drift guard folded
    * INTO the join the query already pays, replacing the previous
    * anti-join whose build side was the whole source table (one extra
    * corpus pass per query batch at 100 TB). The joined frame is
    * cached ([[Dedup.scopedCache]], the documented caller contract) so
    * the compressed-domain shortlist, the probed-cell scan, and the
    * source rerank scan each execute exactly once per query call.
    */
  private[operators] def rerankExact(
      short: DataFrame, b: DataFrame, q: DataFrame, k: Int,
      requireFullCoverage: Boolean = false): DataFrame = {
    val pairs = short.select("q_id", "b_id")
    val vecs = b.select("b_id", "b_emb", "b_nrm")
    val withVec =
      if (!requireFullCoverage) pairs.join(vecs, "b_id")
      else {
        val j = Dedup.scopedCache(pairs.join(vecs, Seq("b_id"), "left"))
        // bounded probe of the CACHED join: stops at the first
        // uncovered shortlist id (retention delete / drifted filter on
        // the source), which would otherwise silently shrink or empty
        // a query's results — the engine's worst failure mode
        val miss = j.filter(col("b_emb").isNull).select("b_id").limit(1).collect()
        require(miss.isEmpty,
          s"source is missing indexed id ${miss.headOption.map(_.get(0)).getOrElse("")} " +
            "(or its vector became zero-norm) -- the source table drifted since the " +
            "index was built; rebuild the index or remove the ids from it")
        j
      }
    Ann.topkPerQuery(withVec.join(broadcast(q.select("q_id", "q_emb", "qp_nrm")), "q_id")
      .select(col("q_id"), col("b_id"), Ann.exactSim), k)
  }

  /** The coarse centroids as a FLOAT array-of-arrays literal — the
    * IVF-PQ paths' single owner of the residual arithmetic's centroid
    * operand. The float cast must match [[Ann]]'s `codebookFrame`
    * (`_.toFloat` per element) so every consumer of "the centroid of
    * cell c" sees identical bits.
    */
  private def centroidLitF(coarse: Array[Array[Double]]): Column =
    typedLit(coarse.map(_.map(_.toFloat).toSeq).toSeq)

  /** `x − centroid` as a Column — the encode half of RESIDUAL encoding
    * (FAISS's actual ADC formulation): residuals have a much smaller
    * dynamic range than raw vectors (the coarse quantizer has already
    * explained the cluster mean), so the same m/kSub code budget buys
    * measurably finer codebooks and better shortlist recall (measured:
    * see SCALE.md round 7 / RECALL_r07). Float arithmetic end-to-end,
    * shared by build, add and query — the persisted ≡ on-the-fly
    * contract needs all three bit-identical. Native codegen
    * ([[graft.functions.expr.VecSub]]); [[residExprHof]] is the
    * interpreted twin the differential spec pins the bits against.
    * `cent` is the row's own centroid column ([[centCol]]) — computed
    * ONCE per plan so the nlist × D centroid literal is embedded once,
    * not once per use (at nlist=4096, D=768 each copy is ~12 MB of
    * every task binary).
    */
  private[graft] def residExpr(vec: Column, cent: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.expr.VecSub(
        org.apache.spark.sql.GraftColumnShim.expression(vec),
        org.apache.spark.sql.GraftColumnShim.expression(cent)))

  private[graft] def residExprHof(vec: Column, cent: Column): Column =
    zip_with(vec, cent, (x, c) => x - c)

  /** `centroid + r` — the decode half, retained as the differential
    * twin ([[PqReconNorm]] fuses it with the norm in the hot path) and
    * for callers that want the full reconstructed vector (specs).
    */
  private[graft] def unresidExpr(cent: Column, dec: Column): Column =
    zip_with(cent, dec, (c, r) => c + r)

  /** Effective per-subspace code count — [[fitFromSample]] clamps kSub
    * to the sample size, so every codes/LUT consumer must index by the
    * FITTED table length, not the requested parameter.
    */
  private def kEff(cb: Codebooks): Int = cb.tables(0).length

  /** The per-QUERY ADC lookup table: `lut[j·kEff + t] = q_subⱼ ·
    * codeword(j, t)` as an `array<double>` Column. Computed on the
    * query/probe frame ONLY (bounded rows, interpreted HOF lambdas are
    * fine there) and shipped through the broadcast join, so the
    * per-candidate scan pays [[adcExpr]]'s m lookups instead of a
    * D-float reconstruction + D-term dot.
    */
  private[graft] def lutExpr(qVec: Column, cb: Codebooks): Column = {
    val nested = typedLit(cb.tables.map(_.map(_.map(_.toFloat).toSeq).toSeq).toSeq)
    flatten(transform(nested, (tbl, j) =>
      transform(tbl, cw =>
        Vectors.dot(slice(qVec, j * lit(cb.sub) + lit(1), lit(cb.sub)), cw))))
  }

  /** `Σⱼ lut[j·kEff + codes[j]]` — the compressed-domain inner product
    * (native codegen, [[graft.functions.expr.PqAdc]]); on residual
    * layouts the caller adds the `q·centroid(cell)` term.
    */
  private[graft] def adcExpr(codes: Column, lut: Column, cb: Codebooks): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.expr.PqAdc(
        org.apache.spark.sql.GraftColumnShim.expression(codes),
        org.apache.spark.sql.GraftColumnShim.expression(lut), kEff(cb)))

  /** `|cent + decode(codes)|` fused into one native expression
    * ([[graft.functions.expr.PqReconNorm]]) — bit-identical to
    * `norm2(unresidExpr(cent, decodeExpr(codes)))` (spec-pinned), so
    * persisted `d_nrm` values are unchanged. Raw layouts pass a zero
    * centroid ([[zeroCent]]).
    */
  private[graft] def reconNormExpr(codes: Column, cent: Column, cb: Codebooks): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.expr.PqReconNorm(
        org.apache.spark.sql.GraftColumnShim.expression(codes),
        org.apache.spark.sql.GraftColumnShim.expression(cent),
        cb.tables.flatten.flatten, cb.m, cb.sub, kEff(cb)))

  private def zeroCent(cb: Codebooks): Column =
    typedLit(Seq.fill(cb.m * cb.sub)(0.0f))

  /** The row's coarse centroid (float) by its cell id. */
  private def centCol(cell: Column, coarse: Array[Array[Double]]): Column =
    element_at(centroidLitF(coarse), cell + 1)

  /** Driver-side twin of [[residExpr]] over the training sample: assign
    * each sample vector to its nearest coarse centroid (same
    * lowest-index tie-break as the native NearestCentroid) and subtract
    * in float. Training-side assignment needs no bit-parity with the
    * engine's (it only shapes codebook quality); the SUBTRACTION
    * mirrors the float arithmetic so the codebooks are fit on exactly
    * the value distribution they will encode.
    */
  private[operators] def residualSample(
      sample: Array[Array[Float]], coarse: Array[Array[Double]]): Array[Array[Float]] =
    sample.map { x =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        val cc = coarse(c)
        var d = 0.0
        var i = 0
        while (i < cc.length && i < x.length) {
          val t = x(i) - cc(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val cf = coarse(best)
      Array.tabulate(x.length)(i => x(i) - cf(i).toFloat)
    }

  /** The PQ-scoreable enrichment of an [[Ann.validVectors]] frame — the
    * SINGLE owner of the filter chain (exact dim, valid cell, valid
    * codes, nonzero decoded norm) that [[buildIvfPqIndex]]
    * persists and [[knnIvfPq]] computes on the fly: the persisted ≡
    * on-the-fly row-for-row contract depends on both paths drawing the
    * SAME row universe. Codes are RESIDUAL ([[residExpr]]): encode
    * `x − centroid(cell)`; `d_nrm` is the reconstruction's norm,
    * computed WITHOUT materializing the decoded vector
    * ([[reconNormExpr]] — bit-identical to the decode form).
    * Returns (b_id, cell, codes, d_nrm).
    */
  private def pqScoreable(
      b: DataFrame, coarse: Array[Array[Double]], cb: Codebooks): DataFrame =
    b.filter(size(col("b_emb")) === cb.m * cb.sub) // ragged: see encode
      .withColumn("cell", Ann.cellExpr(col("b_emb"), coarse))
      .filter(col("cell").isNotNull)
      // __cent as its own projected column: both the encode and the
      // norm reference the ATTRIBUTE, so the centroid literal lands
      // in the plan once (see residExpr's scaladoc)
      .withColumn("__cent", centCol(col("cell"), coarse))
      .withColumn("codes", encodeExpr(residExpr(col("b_emb"), col("__cent")), cb))
      .filter(forall(col("codes"), c => c.isNotNull))
      .withColumn("d_nrm", reconNormExpr(col("codes"), col("__cent"), cb))
      .filter(col("d_nrm") > 0)
      .select("b_id", "cell", "codes", "d_nrm")

  /** The PQ seed family offset from the coarse seed — identical seeds
    * over the identical sample would correlate the coarse codebook
    * with subspace 0's (Quantizer.fit draws its k-means++ init from
    * the seed). Single owner: build and on-the-fly must fit IDENTICAL
    * codebooks for the persisted ≡ on-the-fly contract.
    */
  private def pqSeed(seed: Long): Long = seed + 1000003L

  /** Build a PERSISTED IVF-PQ index at `path` — the compressed
    * build-once/query-many serving shape for 10^9+ vectors: the base
    * stores ONLY (b_id, codes, d_nrm) partitioned by coarse cell, so a
    * query's probed-cell scan reads ~m bytes per candidate instead of
    * 4·D (the full vectors stay in the SOURCE table and are joined
    * back only for the exact-rerank shortlist). Layout:
    * `path/base` (b_id, codes, d_nrm; cell = partition key),
    * `path/codebook` (the coarse sidecar, occupancy = PQ-scoreable
    * members), `path/pq` (one row per (subspace, code): the PQ tables).
    */
  def buildIvfPqIndex(
      base: DataFrame, baseId: Column, baseVec: Column, path: String,
      nlist: Int = 16, m: Int = 8, kSub: Int = 256,
      seed: Long = 42L, maxFit: Long = 100000L,
      fitOn: Option[DataFrame] = None): Unit = {
    val b0 = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    // fitOn: the train/add split, as in Ann.buildIvfIndex — a growing
    // index trains once on a representative sample and is extended
    // with addToIvfPqIndex, never re-fit per increment
    val fitB = fitOn.map(_.select(baseId.as("b_id"), baseVec.as("b_emb"))).getOrElse(b0)
    val sample = Ann.sampleVectors(fitB, maxFit)
    val coarse = Ann.fitCodebookFromSample(sample, nlist, seed)
    // PQ codebooks are fit on RESIDUALS (see residExpr) — one shared
    // sample scan still feeds both quantizers
    val cb = fitFromSample(residualSample(sample, coarse), m, kSub, pqSeed(seed))
    val spark = base.sparkSession
    // every written row is PQ-scoreable by construction of the gates; a
    // base whose EVERY row fell to them (classic cause: fitOn frame
    // with a different embedding dimension than the base) is refused,
    // never persisted as a silently empty index
    Ann.writeIvfLake(spark, path, pqRows(Ann.validVectors(base, baseId, baseVec), coarse, cb),
      lit(true), (coarse, Map.empty),
      increment = None,
      s"no base row was PQ-scoreable for $path -- does the base embedding " +
        s"dimension match the fitted codebooks (dim ${cb.m * cb.sub})?") {
      // the pq dir lands between the base and the codebook: it doubles
      // as the index-type marker Ann.addToIvfIndex refuses on, so a
      // crash before the codebook leaves a half-index every entry
      // point rejects, never one that accepts vector-row appends.
      // `residual = true` is a LAYOUT VERSION marker: an index whose pq
      // rows lack it was built with raw (pre-residual) encoding, and
      // decoding its codes with the residual arithmetic would silently
      // corrupt every score — loadPqTables refuses such indexes
      import spark.implicits._
      (for (j <- 0 until cb.m; c <- cb.tables(j).indices)
        yield (j, c, cb.tables(j)(c).toSeq, true))
        .toDF("subspace", "code", "centroid_d", "residual")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$path/pq")
    }
  }

  /** The persisted IVF-PQ row: [[pqScoreable]] as (b_id, codes, d_nrm, cell). */
  private def pqRows(b: DataFrame, coarse: Array[Array[Double]], cb: Codebooks): DataFrame =
    pqScoreable(b, coarse, cb).select("b_id", "codes", "d_nrm", "cell")

  /** KNN against a persisted [[buildIvfPqIndex]] index: a CODES scan
    * of only the probed cells ([[Ann.probeFront]], filtered search by
    * `eligible` included — the semi-join lands on the compressed scan,
    * before the shortlist, so no shortlist slot is spent on an
    * ineligible candidate), compressed-domain shortlist, then exact
    * rerank ([[rerankExact]]) against `source` —
    * the table holding the ORIGINAL vectors, joined by id for shortlist
    * pairs only.
    * `source` must contain every indexed id (it is the corpus the
    * index was built from); reported sims are true cosines, same
    * oracle contract as the whole knn family.
    *
    * CALLER CONTRACT: caches the shortlist × source rerank join
    * (which carries the original vectors of shortlist pairs), so each
    * scan in the plan executes once per call; the query batch and its
    * probe rows are collected once on the driver, as in
    * [[Ann.queryIvfIndex]]. Wrap in [[Dedup.scoped]] or clear the
    * cache; a long-lived caller that skips the scope accumulates one
    * cached frame per call.
    */
  def queryIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, srcId: Column, srcVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nprobe: Int = 4, shortlist: Int = 0,
      eligible: Option[(DataFrame, Column)] = None): DataFrame = {
    lazy val cb = loadPqTables(spark, path) // read once the front has checked the layout
    val (coarse, q, probed, base) =
      Ann.probeFront(spark, path, "d_nrm", queries, qId, qVec, nprobe, eligible)(
        Some(cb.m * cb.sub))
    // ADC scoring: qc = q·centroid(cell) and the per-query LUT are
    // computed on the BOUNDED probe frame (≤ queries × nprobe rows) and
    // broadcast; the probed-cell scan then reads (b_id, codes, d_nrm)
    // and pays m lookups per candidate — no reconstruction, and the
    // nlist × D centroid literal stays OUT of the scan-side task binary
    val approx = base.join(broadcast(adcProbe(probed, coarse, cb)), "cell")
      .select(col("q_id"), col("b_id"), adcSim(cb))
    // the 'source holds every indexed id' contract is enforced INSIDE
    // the rerank join (requireFullCoverage) — zero extra source passes
    rerankExact(Ann.topkPerQuery(approx, shortlistSize(shortlist, k)),
      Ann.validVectors(source, srcId, srcVec), q, k, requireFullCoverage = true)
  }

  /** The IVF-PQ probe frame: per (query, probed cell) the residual ADC
    * terms, `qc` = q·centroid(cell) and the query's LUT ([[lutExpr]]).
    */
  private def adcProbe(probed: DataFrame, coarse: Array[Array[Double]], cb: Codebooks): DataFrame =
    probed
      .withColumn("qc", Vectors.dot(col("q_emb"), centCol(col("cell"), coarse)))
      .withColumn("lut", lutExpr(col("q_emb"), cb))

  /** The residual ADC cosine of a codes row against an [[adcProbe]] row. */
  private def adcSim(cb: Codebooks): Column =
    ((col("qc") + adcExpr(col("codes"), col("lut"), cb)) /
      (col("d_nrm") * col("qp_nrm"))).as("sim")

  /** The persisted PQ tables of an IVF-PQ index — bounded collect of
    * m × kSub rows, validated DENSE before use: a partial/corrupt pq
    * dir would otherwise compact codes onto the WRONG centroids and
    * silently degrade every result (same fail-loud posture as
    * addToIvfIndex's dense-cells check).
    */
  private def loadPqTables(
      spark: org.apache.spark.sql.SparkSession, path: String): Codebooks =
    parsePqTables(spark, path, markerCol = "residual",
      missingMarkerMsg =
        s"$path/pq was built with the pre-residual layout -- its codes index raw " +
          "vectors, not residuals; rebuild the index with buildIvfPqIndex")

  /** Single owner of the persisted code-table parse + dense m×kSub
    * validation, parameterized on the layout-version column ([[Opq]]'s
    * lake uses `rotated` where IVF-PQ uses `residual`): a partial or
    * mixed-layout pq dir must fail HERE by name in every index family,
    * and a validation fix must reach all of them at once. The parsed
    * tables are resident per generation of the pq sidecar
    * ([[SidecarMemo]], slot = the marker column): callers must not
    * mutate them.
    */
  private[operators] def parsePqTables(
      spark: org.apache.spark.sql.SparkSession, path: String,
      markerCol: String, missingMarkerMsg: String): Codebooks =
    SidecarMemo(spark, s"$path/pq", markerCol) {
      val pqDf = spark.read.parquet(s"$path/pq")
      require(pqDf.schema.fieldNames.contains(markerCol), missingMarkerMsg)
      val pqRows = pqDf.select("subspace", "code", "centroid_d").collect()
      require(pqRows.nonEmpty, s"$path/pq is empty -- not a PQ-coded index")
      val m = pqRows.map(_.getInt(0)).max + 1
      val kSub = pqRows.map(_.getInt(1)).max + 1
      require(pqRows.length == m * kSub &&
        pqRows.map(r => (r.getInt(0), r.getInt(1))).distinct.length == m * kSub,
        s"$path/pq is not a dense ${m}x$kSub code table -- corrupt index")
      val tables = Array.tabulate(m) { j =>
        pqRows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
          .map(_.getSeq[Double](2).toArray)
      }
      Codebooks(m, tables(0)(0).length, tables)
    }

  /** Incrementally extend a persisted [[buildIvfPqIndex]] index: new
    * rows are assigned AND encoded with the PERSISTED codebooks (no
    * re-fit of either quantizer — build+add equals
    * build-all-with-the-same-codebooks), appended to the cell
    * partitions as codes, and the occupancy sidecar refreshed from the
    * files this add wrote — the family's write core,
    * [[Ann.writeIvfLake]], shared with [[Ann.addToIvfIndex]] (same
    * not-transactional caveat).
    */
  def addToIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, id: Column, vec: Column): Unit = {
    // directed misuse guard, symmetric with Ann.addToIvfIndex's: a
    // PLAIN IVF index shares the codebook layout but has no pq sidecar
    Ann.requireQuantizerMarker(spark, path, "pq", otherVerb = "Ann.addToIvfIndex")
    val sidecar = Ann.readCodebookSidecar(spark, path)
    val cb = loadPqTables(spark, path)
    // a non-empty increment whose EVERY row fell to the PQ-scoreable
    // gates (wrong embedding dimension is the classic cause) is refused
    Ann.writeIvfLake(spark, path,
      pqRows(Ann.validVectors(rows, id, vec), sidecar._1, cb), lit(true),
      sidecar, Some(rows),
      s"no row of a non-empty increment was PQ-scoreable for $path -- wrong " +
        s"embedding dimension (index dim ${cb.m * cb.sub})? nothing was added")(())
  }

  /** Delete ids from a persisted [[buildIvfPqIndex]] index — the
    * retention verb for the compressed index, sharing
    * [[Ann.removeFromIndexBase]] (surgical per-cell anti-join rewrite,
    * park-then-swap, pre-swap row-count gate, occupancy decrement,
    * immutable codebooks — see [[Ann.removeFromIvfIndex]]). After a
    * retention delete is applied to BOTH the source table and the index
    * (this call), [[queryIvfPqIndex]]'s drift guard is satisfied again —
    * previously the only options were serving with a hard-failing guard
    * or a full rebuild. Every persisted codes row is PQ-scoreable by
    * construction, so occupancy counts plain rows.
    */
  def removeFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column): Unit = {
    Ann.requireQuantizerMarker(spark, path, "pq", otherVerb = "Ann.removeFromIvfIndex")
    Ann.removeFromIndexBase(spark, path, victims, vicId, scoreable = lit(true))
  }

  /** IVF+PQ (the FAISS IVFADC composition): the coarse quantizer prunes
    * WHICH rows are scanned (candidates = probed cells only, shuffle ∝
    * candidates) while PQ compresses WHAT the scan reads (m bytes per
    * candidate) — multiplicative savings, the standard 10^9+-vector
    * serving shape. Pure composition of the proven pieces: cell
    * assignment and cosine cell probing from [[Ann.knnIvf]] (including
    * the live-cell guarantee, here defined on PQ-SCOREABLE members so
    * every valid query still returns rows), compressed-domain shortlist
    * + exact rerank from [[knnPq]]. Reported sims are true cosines —
    * the self-verifying oracle contract applies unchanged.
    *
    * SIZING: the absolute defaults suit ~500-2000-vector test bases.
    * At deployment scale derive search effort from the corpus size
    * via [[graft.RecallBoard.scaledAnnParams]] (nlist ~ n/125,
    * nprobe = 7/8 of cells, shortlist ~ n/5) -- fixed absolute knobs
    * measurably lose recall as the corpus grows (SCALE.md round 10).
    */
  def knnIvfPq(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, kSub: Int = 256, shortlist: Int = 0,
      seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    val sl = shortlistSize(shortlist, k)
    // ONE sample scan feeds both quantizers; PQ codebooks fit on
    // RESIDUALS (see residExpr); PQ seed family offset — see [[pqSeed]]
    val sample = Ann.sampleVectors(base.select(baseId.as("b_id"), baseVec.as("b_emb")), maxFit)
    val coarse = Ann.fitCodebookFromSample(sample, nlist, seed)
    val cb = fitFromSample(residualSample(sample, coarse), m, kSub, pqSeed(seed))
    val q = Ann.localBatch(Ann.validQueries(queries, qId, qVec))
    val b = Ann.validVectors(base, baseId, baseVec)
    // one narrow enrichment pass ([[pqScoreable]] — the shared row
    // universe with the persisted build): cell + codes + decode,
    // keeping only PQ-scoreable rows — the liveness universe for the
    // probe; qc + LUT on the bounded probe frame, ADC on the scan —
    // the same arithmetic owners as queryIvfPqIndex (the persisted ≡
    // on-the-fly contract)
    val enc = pqScoreable(b, coarse, cb)
    val probed = adcProbe(Ann.probeLiveCells(q, coarse, enc, nprobe), coarse, cb)
    val approx = enc.join(broadcast(probed), "cell").select(col("q_id"), col("b_id"), adcSim(cb))
    rerankExact(Ann.topkPerQuery(approx, sl), b, q, k)
  }
}
