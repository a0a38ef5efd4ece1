package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Principal-component dimensionality reduction for embedding columns —
  * the OPQ-adjacent "shrink the vectors before you index them" step of
  * a training-data pipeline (reference has no dense-vector ops; this is
  * part of the mandated beyond-reference vector surface, the
  * Jégou/Douze preprocessing stage FAISS ships as `PCAMatrix`).
  *
  * Division of labor — the quantizer-fit posture ([[Ann]]/[[Pq]]/[[Sq]])
  * verbatim:
  *
  *  - `fit` is DRIVER-SIDE on the shared bounded deterministic hash
  *    sample ([[Ann.sampleVectors]]): mean, covariance, and a cyclic
  *    Jacobi eigendecomposition are exact sequential double arithmetic
  *    on ≤ `maxFit` rows — deterministic across partitionings and
  *    retries (a distributed covariance would sum floats in partition
  *    order and change bits run to run). D = 64 means a 64×64 symmetric
  *    eigenproblem — microseconds, like a k-means fit.
  *  - `project` is a pure Column expression per output coordinate:
  *    `vec_dot(x, pc_j) − dot(mean, pc_j)` — centering is folded into a
  *    precomputed scalar offset, so the corpus-side work is ONE native
  *    codegen dot product per coordinate ([[graft.functions.Vectors.dot]]),
  *    no per-row centering pass, no HOF fallback, whole-stage codegen.
  *    The strict left-to-right fold makes every projected coordinate
  *    bit-replayable cross-engine (the v18 oracle recomputes each one
  *    from the raw embeddings and the dumped components).
  *
  * The model persists via [[saveModel]]/[[loadModel]] — the
  * fit/transform split every persisted quantizer here has ([[Sq]]
  * stats, [[Pq]] codebooks, [[LangModel]] counts): fit once on
  * yesterday's corpus, project today's increment with yesterday's
  * components, bit-identically.
  */
object Pca {

  /** A fitted PCA basis: `components(j)` is the j-th principal axis
    * (rows orthonormal, descending `eigvals`), `offsets(j)` =
    * dot(mean, components(j)) under the same strict fold `project`
    * uses, `trace` = total variance of the fit sample (so explained
    * ratios need no second pass).
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      offsets: Array[Double],
      eigvals: Array[Double],
      trace: Double) {
    def dims: Int = components.length
    def inputDim: Int = mean.length
    def explainedRatio: Double = if (trace > 0) eigvals.sum / trace else 1.0
  }

  /** Fit a `dims`-component PCA on a bounded deterministic sample of
    * `(id, vec)` rows. Ragged/null vectors are dropped from the sample
    * by [[Ann.sampleVectors]]'s majority-dimension rule.
    */
  def fit(
      b: DataFrame, bId: Column, bVec: Column, dims: Int,
      maxFit: Long = 20000L): PcaModel =
    fitCore(
      Ann.sampleVectors(b.select(bId.as("b_id"), bVec.as("b_emb")), maxFit)
        .map(_.map(_.toDouble)),
      dims)

  /** As [[fit]] but on UNIT-NORMALIZED sample vectors (x/‖x‖ with the
    * strict-fold norm [[graft.functions.Vectors.norm2]] uses) —
    * the basis [[knnPca]] needs: on the unit sphere, reduced-space L2
    * is monotone with cosine (‖u−v‖² = 2 − 2·cosθ), so a PCA-space
    * shortlist ranks by the metric the exact rerank scores.
    * Zero-norm sample rows are dropped (cosine is undefined for them
    * and every knn entry point already excludes them).
    */
  def fitUnit(
      b: DataFrame, bId: Column, bVec: Column, dims: Int,
      maxFit: Long = 20000L): PcaModel =
    fitUnitFromSample(
      Ann.sampleVectors(b.select(bId.as("b_id"), bVec.as("b_emb")), maxFit),
      dims)

  /** [[fitUnit]] over an already-collected sample — composed operators
    * ([[Opq]]'s rotation fit) share ONE bounded sample between the
    * dimension probe and the basis fit, which both saves a sample pass
    * and removes the probe-vs-fit majority-dimension disagreement
    * class (two independent samples of a mixed-dimension corpus can
    * pick different majorities).
    */
  private[operators] def fitUnitFromSample(
      sample: Array[Array[Float]], dims: Int): PcaModel =
    fitCore(
      sample.flatMap { row =>
        var acc = 0.0
        var i = 0
        while (i < row.length) {
          acc += row(i).toDouble * row(i).toDouble; i += 1
        }
        val n = math.sqrt(acc)
        if (n > 0) Some(row.map(_.toDouble / n)) else None
      },
      dims)

  private def fitCore(sample: Array[Array[Double]], dims: Int): PcaModel = {
    require(sample.nonEmpty, "PCA fit sample is empty")
    val d = sample.head.length
    require(dims >= 1 && dims <= d,
      s"dims=$dims must be in [1, $d] (input dimension)")
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { row =>
      var i = 0
      while (i < d) { mean(i) += row(i); i += 1 }
    }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }
    // covariance (sequential, exact order): C = Σ (x−m)(x−m)ᵀ / (n−1);
    // n = 1 degenerates to the zero matrix (identity basis, all-zero
    // eigvals) rather than dividing by zero
    val denom = math.max(n - 1, 1).toDouble
    val cov = Array.ofDim[Double](d, d)
    val cent = new Array[Double](d)
    sample.foreach { row =>
      var a = 0
      while (a < d) { cent(a) = row(a) - mean(a); a += 1 }
      a = 0
      while (a < d) {
        var bj = a
        while (bj < d) { cov(a)(bj) += cent(a) * cent(bj); bj += 1 }
        a += 1
      }
    }
    var r = 0
    while (r < d) {
      var c = r
      while (c < d) {
        cov(r)(c) /= denom
        cov(c)(r) = cov(r)(c)
        c += 1
      }
      r += 1
    }
    var trace = 0.0
    i = 0
    while (i < d) { trace += cov(i)(i); i += 1 }
    val (eigvals, vecs) = jacobiEigen(cov)
    // descending eigenvalue order, stable on the original index
    val order = (0 until d).sortBy(j => (-eigvals(j), j)).take(dims)
    val comps = order.map { j =>
      val v = Array.tabulate(d)(k => vecs(k)(j))
      // deterministic sign: first coordinate of non-trivial magnitude
      // positive (eigenvectors are defined up to ±)
      val lead = v.indexWhere(x => math.abs(x) > 1e-12)
      if (lead >= 0 && v(lead) < 0) v.map(x => -x) else v
    }.toArray
    // offsets under the SAME strict ascending fold as vec_dot/duckDot
    val offsets = comps.map { pc =>
      var acc = 0.0
      var k = 0
      while (k < d) { acc += mean(k) * pc(k); k += 1 }
      acc
    }
    PcaModel(mean, comps, offsets, order.map(eigvals(_)).toArray, trace)
  }

  /** Append `outCol` = the `model.dims`-dimensional projection of
    * `vec`: coordinate j is `vec_dot(vec, pc_j) − offset_j`, one native
    * codegen dot per coordinate. A null or dimension-mismatched vector
    * yields null coordinates (vec_dot's contract) — callers gate
    * dimensions like every Ann entry point.
    */
  def project(
      df: DataFrame, vec: Column, model: PcaModel,
      outCol: String = "proj"): DataFrame = {
    val coords = model.components.zip(model.offsets).map { case (pc, off) =>
      graft.functions.Vectors.dot(vec, array(pc.map(lit(_)): _*)) - lit(off)
    }
    df.withColumn(outCol, array(coords.toSeq: _*))
  }

  /** Reduced-space ANN with exact rerank — the FAISS `PCAMatrix`
    * pre-transform as a composed operator: project base and queries
    * onto a [[fitUnit]] basis (`dims` ≪ D), shortlist each query's
    * `shortlist` nearest base rows by reduced-space L2, then score the
    * SHORTLIST pairs with the exact strict-fold cosine on the ORIGINAL
    * vectors ([[Pq.rerankExact]] — every served sim is a true cosine,
    * which is what lets v19 reuse the verify-the-scores oracle).
    *
    * Scale shape: the corpus-side pass is `dims` native dot products
    * per row (one narrow projection, whole-stage codegen); the pair
    * scoring is ONE `vec_dot` on dims-length arrays per (query,
    * candidate) — `‖u−v‖² = ‖u‖² + ‖v‖² − 2·u·v` with the row norms
    * hoisted, so at dims=16 the shortlist scan reads and multiplies 4×
    * less than full-dimension brute force; queries broadcast like every
    * knn path. With `dims = D` the projection is a rotation (L2
    * preserved up to rounding) and `shortlist` ≥ corpus recovers brute
    * force exactly — the spec pins that degeneracy.
    */
  def knnPca(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, dims: Int = 16, shortlist: Int = 100,
      maxFit: Long = 20000L, model: Option[PcaModel] = None): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got shortlist=$shortlist k=$k")
    val b0 = Ann.validVectors(base, baseId, baseVec)
    val m = model.getOrElse(fitUnit(b0, col("b_id"), col("b_emb"), dims, maxFit))
    // unit-sphere projection + hoisted reduced-space squared norm; a
    // dimension-mismatched BASE vector yields null coords (vec_dot) and
    // keeps the documented null-cell drop — but ragged QUERIES fail
    // LOUDLY (Ann.requireQueryDim, the Opq.knnOpq contract): silently
    // projecting them to null and serving "no neighbors" is the worst
    // failure mode for a correctness-first knn entry point
    val b = Dedup.scopedCache(
      projectUnit(b0, col("b_emb"), col("b_nrm"), m, "bp")
        .filter(col("bp").getItem(0).isNotNull)
        .withColumn("bp2", graft.functions.Vectors.dot(col("bp"), col("bp"))))
    val q0 = Ann.validQueries(queries, qId, qVec)
    Ann.requireQueryDim(q0, m.inputDim)
    val q = Dedup.scopedCache(
      projectUnit(q0, col("q_emb"), col("qp_nrm"), m, "qp")
        .filter(col("qp").getItem(0).isNotNull)
        .withColumn("qp2", graft.functions.Vectors.dot(col("qp"), col("qp"))))
    val scored = b.select("b_id", "bp", "bp2")
      .crossJoin(broadcast(q.select("q_id", "qp", "qp2")))
      .select(col("q_id"), col("b_id"),
        (-(col("bp2") + col("qp2")
          - lit(2.0) * graft.functions.Vectors.dot(col("bp"), col("qp")))).as("sim"))
    val short = Ann.topkPerQuery(scored, shortlist)
    Pq.rerankExact(short, b, q, k)
  }

  /** Unit-sphere projection: coordinate j = `vec_dot(x, pc_j)/‖x‖ −
    * offset_j` — dot scales linearly so the normalization folds into
    * one division, no per-element normalize pass.
    */
  private[operators] def projectUnit(
      df: DataFrame, vec: Column, nrm: Column, model: PcaModel,
      outCol: String): DataFrame = {
    val coords = model.components.zip(model.offsets).map { case (pc, off) =>
      graft.functions.Vectors.dot(vec, array(pc.map(lit(_)): _*)) / nrm - lit(off)
    }
    df.withColumn(outCol, array(coords.toSeq: _*))
  }

  /** Persist the model as one small parquet dir: a `mean` row plus one
    * `pc` row per component (idx, vec, offset, eigval; the mean row
    * carries `trace` in its `eigval` slot). Bounded rows — dims+1 —
    * like every sidecar model here.
    */
  def saveModel(spark: SparkSession, model: PcaModel, path: String): Unit = {
    import spark.implicits._
    val rows =
      (("mean", -1, model.mean.toSeq, Option.empty[Double], Option(model.trace))) +:
        model.components.indices.map(j =>
          ("pc", j, model.components(j).toSeq,
            Option(model.offsets(j)), Option(model.eigvals(j))))
    rows.toDF("kind", "idx", "vec", "offset", "eigval")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted model, refusing loudly on a malformed lake
    * (missing mean, non-contiguous component indices — the shapes a
    * crashed write leaves).
    */
  def loadModel(spark: SparkSession, path: String): PcaModel = {
    val rows = spark.read.parquet(path)
      .select("kind", "idx", "vec", "offset", "eigval").collect()
    val meanRows = rows.filter(_.getString(0) == "mean")
    require(meanRows.length == 1,
      s"$path is not a PCA model lake: ${meanRows.length} mean rows (want 1)")
    val mean = meanRows.head.getSeq[Double](2).toArray
    val trace = meanRows.head.getDouble(4)
    val pcs = rows.filter(_.getString(0) == "pc").sortBy(_.getInt(1))
    require(pcs.nonEmpty && pcs.map(_.getInt(1)).toSeq == (0 until pcs.length),
      s"$path component indices are not contiguous 0..${pcs.length - 1} -- " +
        "refusing a half-written model; re-run saveModel")
    PcaModel(
      mean,
      pcs.map(_.getSeq[Double](2).toArray),
      pcs.map(_.getDouble(3)),
      pcs.map(_.getDouble(4)),
      trace)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with eigenvectors as COLUMNS).
    * Exact sequential double arithmetic — deterministic. Converges
    * quadratically; 64×64 needs a handful of sweeps.
    */
  private[graft] def jacobiEigen(
      sym: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = Array.tabulate(n, n)((i, j) => sym(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (offDiag() > 1e-22 && sweep < 100) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) { // column rotation
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) { // row rotation
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) { // accumulate eigenvectors
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }
}
