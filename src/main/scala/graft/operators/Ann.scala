package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, StructField, StructType}

import graft.functions.Vectors
import graft.functions.expr.VecDot

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force is the correctness baseline: broadcast the (small) query
  * set against the base table — a map-side nested loop with no shuffle
  * except the final per-query top-k. The LSH variant buckets both sides
  * with deterministic sign-hyperplanes and joins on bucket, trading
  * recall for a candidate set ~2^bits smaller — the 100 TB path.
  *
  * Top-k selection is the [[TopK.TopKScored]] k-buffer aggregator, not
  * `row_number().over(Window.partitionBy(q_id))`: the window form
  * shuffles EVERY scored candidate into ≤ #queries partitions and fully
  * sorts each — parallelism collapses to the query count, a
  * driver-class bottleneck on a 10^9-row base. The aggregator keeps k
  * rows per (map partition, query) so the shuffle carries ≤ k rows per
  * partition-group regardless of corpus size.
  */
object Ann {

  /** Per-query top-k over a scored candidate frame with columns
    * (q_id, b_id, sim). Map-side partial top-k; output keeps b_id's
    * original type and a 1-based int rank. The aggregator buffers ids
    * as longs, so b_id must be an integral column — a string/uuid id
    * would silently cast to NULL, hence the explicit check.
    */
  private[operators] def topkPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val idType: DataType = scored.schema("b_id").dataType
    require(
      Seq("tinyint", "smallint", "int", "bigint").contains(idType.simpleString),
      s"knn id column must be integral (got ${idType.simpleString}); " +
        "map non-numeric ids to a surrogate long (e.g. monotonically_increasing_id) first")
    scored
      // a NULL sim (ragged embedding lengths make vec_dot yield NULL
      // while the norms stay valid) or NULL id would crash the typed
      // aggregator's non-nullable encoder deep in an executor — exclude
      // such rows instead
      .filter(col("sim").isNotNull && col("b_id").isNotNull)
      .groupBy("q_id")
      .agg(TopK.topKScored(k)(col("sim"), col("b_id").cast("long")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(
        col("q_id"),
        col("e.id").cast(idType).as("b_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("e.sim").as("sim"))
  }

  /** Majority-vote kNN classification over any knn-family output
    * ((q_id, b_id, rank, sim) rows): each query takes the most common
    * label among its neighbors, ties broken by the smaller label — a
    * total order, so the prediction is unique and engine-replayable.
    *
    * Scale shape: the NEIGHBOR PAIRS are the bounded side (queries ×
    * k rows) and broadcast; `labels` — the corpus — streams through
    * one broadcast-hash-join scan, never shuffles, and the vote
    * aggregation is result-sized. Output: (q_id, pred_label, votes).
    * Neighbors whose id is missing from `labels` (or whose label is
    * null) simply cast no vote; a query with zero labeled neighbors
    * emits no row.
    */
  def majorityVote(
      nn: DataFrame, labels: DataFrame,
      labelId: Column, label: Column): DataFrame = {
    val pairs = nn.select(col("q_id"), col("b_id"))
    val lb = labels.select(labelId.as("b_id"), label.as("label"))
      .filter(col("label").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("votes").desc, col("label"))
    lb.join(broadcast(pairs), "b_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be broadcast-sized (it is hint-broadcast).
    */
  def knnBruteForce(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int): DataFrame =
    topkPerQuery(validVectors(base, baseId, baseVec)
      .crossJoin(broadcast(validQueries(queries, qId, qVec)))
      .select(col("q_id"), col("b_id"), exactSim), k)

  /** Valid (norm > 0) base vectors as (b_id, b_emb, b_nrm) — the one
    * owner of the base side of every cosine in the family, as
    * [[validQueries]] is of the query side. Norms are hoisted to once
    * per ROW, not once per scored pair ([[exactSim]]). Zero-norm
    * vectors are EXCLUDED before scoring: cosine is undefined for
    * them, and under ANSI SQL the division would throw (non-ANSI:
    * score NaN and pollute every query's rank 1).
    */
  private[operators] def validVectors(base: DataFrame, id: Column, vec: Column): DataFrame =
    base.select(id.as("b_id"), vec.as("b_emb"))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0)

  /** Valid (norm > 0) queries as (q_id, q_emb, qp_nrm) — the one
    * owner of the query side of every cosine in the family (a
    * `SourceLintSpec` rule: no other code computes a query norm).
    */
  private[operators] def validQueries(queries: DataFrame, qId: Column, qVec: Column): DataFrame =
    queries.select(qId.as("q_id"), qVec.as("q_emb"))
      .withColumn("qp_nrm", Vectors.norm2(col("q_emb")))
      .filter(col("qp_nrm") > 0)

  /** The exact cosine `sim` of a [[validVectors]] row against a
    * [[validQueries]] row: one dot fold over the hoisted norms, whose
    * division keeps cosine's op sequence, so every exact score in the
    * family — brute force, IVF scans, the rerank tail — is the same
    * bits.
    */
  private[operators] def exactSim: Column =
    (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("qp_nrm"))).as("sim")

  /** IVF (inverted-file) approximate KNN: a k-means coarse quantizer
    * partitions the base vectors into `nlist` cells; each query probes
    * its `nprobe` nearest cells and ranks only those candidates.
    *
    * This is the standard scale path for ANN over ~10^9+ vectors: the
    * cell assignment is a narrow column, the candidate join is an
    * equi-join on cell id (shuffle ∝ candidates, not corpus), and the
    * centroid codebook is broadcast-sized. Deterministic via a fixed
    * seed.
    *
    * The quantizer is fit DRIVER-SIDE on a bounded deterministic sample
    * (approximately `maxFit` rows — the hash filter admits each row
    * with probability maxFit/total, so the realized count has binomial
    * spread around maxFit; selected by a hash on the id, not `rand()`,
    * so a task retry sees the same sample). This is the FAISS division
    * of labor: `train` is an in-memory problem on a capped sample
    * (≤ ~25 MB at maxFit=100k, dim 64 — the one deliberate, bounded
    * driver collect in the vector family), `add`/assignment of the full
    * base stays one distributed narrow pass through the native
    * [[graft.functions.expr.NearestCentroid]] codegen expression. The
    * previous MLlib fit spent 10 iterations × several scheduler
    * round-trips on that same sample (~1.4 s of pure overhead at
    * sf0.1); [[Quantizer.fit]] does it in milliseconds with identical
    * determinism. CACHE CONTRACT: nothing is cached — callers have
    * nothing to clean up.
    *
    * SIZING: the absolute defaults suit ~500-2000-vector test bases.
    * At deployment scale derive search effort from the corpus size
    * via [[graft.RecallBoard.scaledAnnParams]] (nlist ~ n/125,
    * nprobe = 7/8 of cells, shortlist ~ n/5) -- fixed absolute knobs
    * measurably lose recall as the corpus grows (SCALE.md round 10).
    */
  def knnIvf(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      maxFit: Long = 100000L): DataFrame = {
    val b = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    val codebook = fitCodebook(b, nlist, seed, maxFit)
    // the persisted build's encode: null, null-element and
    // wrong-dimension rows take no cell and are dropped alike
    // scoreable (norm > 0) members only: see validVectors
    val scoreable = ivfRows(b, codebook).filter(col("b_nrm") > 0)
    val probed = probeLiveCells(validQueries(queries, qId, qVec), codebook, scoreable, nprobe)
    topkPerQuery(scoreable.join(broadcast(probed), "cell")
      .select(col("q_id"), col("b_id"), exactSim), k)
  }

  /** The probe of the on-the-fly IVF operators ([[knnIvf]],
    * [[Pq.knnIvfPq]], [[Sq.knnIvfSq8]]): a query of another dimension
    * than the codebook fails ([[requireQueryDim]]), then each valid
    * query of `q` (q_id, q_emb, qp_nrm) ranks its `nprobe` nearest LIVE
    * cells ([[topProbeCells]]) and its rows are joined back:
    * (q_id, cell, q_emb, qp_nrm), the probe side of the scan join.
    *
    * Live = holding >= 1 row of `scoreable` (a frame with a `cell`
    * column: the members the family can score). The quantizer can
    * leave dead centroids (an empty Lloyd cell keeps its previous
    * position, possibly coincident with a twin), and a query whose
    * every probed cell were dead would emit ZERO rows -- breaking the
    * contract that every valid query returns candidates (which v05's
    * self-verifying oracle enforces with its coverage sentinel). Costs
    * one extra narrow pass over the base at query time; the persisted
    * indexes get the same liveness for free as write-time stats
    * ([[readLiveCentroids]]).
    */
  private[operators] def probeLiveCells(
      q: DataFrame, codebook: Array[Array[Double]], scoreable: DataFrame,
      nprobe: Int): DataFrame = {
    requireQueryDim(q, codebook(0).length)
    val live = centroidFrame(q.sparkSession, codebook)
      .join(broadcast(scoreable.select("cell").distinct()), "cell")
    topProbeCells(q, live, nprobe).join(q, "q_id")
  }

  /** Bounded deterministic vector sample of a (b_id, b_emb) frame — the
    * shared quantizer-training input (IVF coarse codebook, PQ subspace
    * codebooks): hash-selected on the id (not `rand()`, so task retries
    * see the same sample), ~`maxFit` rows collected to the driver.
    */
  private[operators] def sampleVectors(
      b: DataFrame, maxFit: Long): Array[Array[Float]] = {
    // one cheap narrow count to size the sample fraction (the id column
    // only -- pruned to a metadata/footer read where the source allows)
    val total = b.select("b_id").count()
    val fitDf =
      if (total > maxFit)
        b.filter(pmod(xxhash64(col("b_id")), lit(total)) < lit(maxFit))
      else b
    // bounded collect (see knnIvf scaladoc): <= ~maxFit vectors; null
    // rows are skipped here, null-element rows fall out of assignment.
    // CANONICAL ORDER: k-means++ seeding walks the sample by array
    // index, so collect order would otherwise leak the source's FILE
    // LAYOUT into the codebook — the same corpus repartitioned (or
    // re-read from a cell-partitioned index by [[refitIvfIndex]])
    // would train a different quantizer. Sorting by the id makes the
    // fit a pure function of the (id, vector) SET, which is what lets
    // refit ≡ fresh-build hold by construction. (Duplicate ids — a
    // caller bug — keep their relative collect order; everything else
    // is totally ordered.)
    val raw = fitDf
      .select(col("b_id").cast("string").as("__id"),
        col("b_emb").cast("array<float>"))
      .collect()
      .sortBy(r => Option(r.getString(0)).getOrElse(""))
      .flatMap(r => Option(r.getSeq[Float](1)))
      .filter(s => s.nonEmpty && !s.contains(null))
      .map(_.toArray)
    if (raw.isEmpty) raw
    else {
      // RAGGED rows are dropped from the training sample (majority
      // dimension wins; ties break toward the smaller dim for
      // determinism): base-side encode/assignment gates on the exact
      // dim, but a ragged TRAINING row would silently skew every
      // codebook from an overlapping-prefix distance — same logged
      // degradation posture as the nlist/kSub clamps
      val dim = raw.groupBy(_.length).maxBy { case (d, v) => (v.length, -d) }._1
      val kept = raw.filter(_.length == dim)
      if (kept.length < raw.length)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"quantizer sample dropped ${raw.length - kept.length} ragged vectors " +
            s"(length != majority dim $dim)")
      kept
    }
  }

  /** Fit the IVF coarse codebook on a bounded deterministic sample of
    * `b` (columns b_id, b_emb) -- see [[knnIvf]]'s scaladoc for the
    * FAISS train/add division-of-labor rationale.
    */
  private[operators] def fitCodebook(
      b: DataFrame, nlist: Int, seed: Long, maxFit: Long): Array[Array[Double]] =
    fitCodebookFromSample(sampleVectors(b, maxFit), nlist, seed)

  /** [[fitCodebook]] over an already-collected sample — lets composed
    * operators ([[Pq.knnIvfPq]]) pay the sample scan once for both the
    * coarse and the PQ quantizers.
    */
  private[operators] def fitCodebookFromSample(
      sample: Array[Array[Float]], nlist: Int, seed: Long): Array[Array[Double]] = {
    val fitCount = sample.length
    require(fitCount > 0, "IVF quantizer sample is empty -- no base vectors to index")
    // Clamp rather than throw: a small corpus (or an unlucky binomial
    // draw of the hash sample near the maxFit boundary) should degrade
    // to fewer cells, not nondeterministically fail the job.
    val effNlist = math.min(nlist.toLong, fitCount).toInt
    if (effNlist < nlist)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IVF quantizer sample has $fitCount rows < nlist=$nlist -- clamping to $effNlist cells")
    Quantizer.fit(sample, effNlist, seed)
  }

  /** Nearest-centroid cell id for a float-array embedding column. */
  private[operators] def cellExpr(emb: Column, codebook: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.expr.NearestCentroid(
        org.apache.spark.sql.GraftColumnShim.expression(emb),
        codebook.flatten, codebook.length, codebook(0).length))

  /** (cell, centroid float array, centroid_d double array) — the ONE
    * owner of the double→float centroid cast: probe ranking must be
    * bit-identical between the on-the-fly and persisted-index paths,
    * and assignment must be bit-identical between build and
    * incremental add, so both precisions derive from the same codebook
    * here and nowhere else.
    */
  private def codebookFrame(
      spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Double]],
      cells: Seq[Int]): DataFrame = {
    import spark.implicits._
    cells.map { i => val c = codebook(i); (i, c.map(_.toFloat).toSeq, c.toSeq) }
      .toDF("cell", "centroid", "centroid_d")
  }

  /** Probe-side view of [[codebookFrame]]: (cell, centroid, c_nrm) of
    * `cells` (default: every cell).
    */
  private[operators] def centroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Double]],
      cells: Option[Seq[Int]] = None): DataFrame =
    codebookFrame(spark, codebook, cells.getOrElse(codebook.indices))
      .withColumn("c_nrm", Vectors.norm2(col("centroid")))
      .select("cell", "centroid", "c_nrm")

  /** Fail LOUDLY if any query embedding's length differs from the index
    * dimension: a ragged query folds to NULL against every centroid and
    * would otherwise read as "no neighbors" — a silent drop is the worst
    * failure mode for a correctness-first ANN path (base-side ragged
    * rows are dropped before they take a cell, see [[ivfRows]]). One
    * cheap narrow job (reads only array lengths, stops at the first
    * offender); none over a [[localBatch]].
    */
  private[operators] def requireQueryDim(q: DataFrame, dim: Int): Unit = {
    val bad = q.filter(size(col("q_emb")) =!= dim)
      .select(col("q_id"), size(col("q_emb")).as("d"))
      .limit(1).collect()
    require(bad.isEmpty, {
      val r = bad.head
      s"query ${r.get(0)} has embedding dim ${r.getInt(1)} but the index dim is $dim"
    })
  }

  /** `nprobe` nearest cells per valid query, ranked by COSINE to the
    * centroid -- the same metric the fine scoring stage uses (FAISS
    * pairs the quantizer metric with the search metric; an L2 probe
    * over unnormalized embeddings routes queries to magnitude-similar
    * rather than direction-similar centroids and costs recall). A
    * zero-norm centroid of a LIVE cell is un-rankable by cosine;
    * skipping it would orphan that cell's members, so it ranks at -2
    * (below cosine's [-1, 1] floor): probed last, never dropped.
    * `centDf` must hold only LIVE cells, so every valid query probes
    * >= 1 non-empty cell and therefore returns rows. Returns
    * (q_id, cell). The persisted indexes rank the same cells on the
    * driver ([[probeCells]]); this plan form is the on-the-fly
    * operators' probe, whose live cells come from a base scan.
    */
  private[operators] def topProbeCells(q: DataFrame, centDf: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(broadcast(centDf))
      .select(
        col("q_id"), col("cell"),
        when(col("c_nrm") > 0,
          Vectors.dot(col("q_emb"), col("centroid")) / (col("qp_nrm") * col("c_nrm")))
          .otherwise(lit(-2.0)).as("csim"))
      // a ragged query (array length != codebook dim) folds to NULL
      // csim, which would crash the typed aggregator's non-nullable
      // encoder (see topkPerQuery) — exclude the pair, like a null sim
      .filter(col("csim").isNotNull)
      .groupBy("q_id")
      .agg(TopK.topKScored(nprobe)(col("csim"), col("cell").cast("long")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("cell_l"))
      .select(col("q_id"), col("cell_l").cast("int").as("cell"))

  /** Build and persist an IVF index at `path`: the cell-assigned base
    * as parquet PARTITIONED BY cell -- a query probing nprobe of nlist
    * cells then reads ONLY those directories -- plus a codebook sidecar
    * carrying write-time occupancy stats, so the query path gets
    * live-cell filtering for free (no extra base pass; contrast the
    * on-the-fly [[knnIvf]]).
    *
    * Layout: `path/base` (b_id, b_emb, b_nrm; cell = partition key),
    * `path/codebook` (cell, centroid float array, centroid_d double
    * array, members). The DOUBLE centroids are persisted so
    * [[addToIvfIndex]] can assign later rows with arithmetic identical
    * to this build (the float copy exists for the probe ranking, which
    * must match [[knnIvf]] bit-for-bit).
    *
    * `fitOn` optionally trains the quantizer on a different frame (same
    * id/vec columns) than the indexed base -- the FAISS train/add
    * split made explicit: a growing index should be trained once on a
    * representative sample and extended with [[addToIvfIndex]], never
    * re-fit per increment.
    */
  def buildIvfIndex(
      base: DataFrame, baseId: Column, baseVec: Column, path: String,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L,
      fitOn: Option[DataFrame] = None): Unit = {
    val b = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    val fitB = fitOn.map(_.select(baseId.as("b_id"), baseVec.as("b_emb"))).getOrElse(b)
    val codebook = fitCodebook(fitB, nlist, seed, maxFit)
    writeIvfLake(base.sparkSession, path, ivfRows(b, codebook), col("b_nrm") > 0,
      (codebook, Map.empty), increment = None, ivfNothingWritten(path, codebook))(())
  }

  /** Plain-IVF encode, shared by the build, the add and [[knnIvf]]:
    * (b_id, b_emb, cell, b_nrm). A null vector or a null element has no
    * cell and is dropped; so is a vector whose length is not the
    * codebook's dimension, which would take a cell by its prefix
    * distance, count as a live member and never score (every dot with
    * a query is NULL).
    */
  private def ivfRows(b: DataFrame, codebook: Array[Array[Double]]): DataFrame =
    b.filter(size(col("b_emb")) === codebook(0).length)
      .withColumn("cell", cellExpr(col("b_emb"), codebook))
      .filter(col("cell").isNotNull)
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))

  private def ivfNothingWritten(path: String, codebook: Array[Array[Double]]): String =
    s"no input row got a cell for $path -- null embedding, null element or " +
      s"dimension != index dim ${codebook(0).length}? nothing was written"

  /** Incrementally extend a persisted [[buildIvfIndex]] index: assign
    * `rows` with the index's PERSISTED double codebook (no re-fit --
    * the codebook is immutable for the index's lifetime, so build+add
    * and build-all-with-the-same-codebook produce identical cells),
    * append them to the cell partition directories, and refresh the
    * occupancy sidecar ([[writeIvfLake]]). This is the 1%/day growth
    * path for a 10^9-vector corpus, where a daily re-fit + full rewrite
    * is not an option. Rows without a cell or of the wrong dimension
    * are dropped one by one; a non-empty increment of which no row
    * lands is refused.
    *
    * Not transactional: a reader racing the sidecar swap can see a
    * missing codebook directory for an instant -- coordinate externally
    * (same caveat as Compact).
    */
  def addToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, id: Column, vec: Column): Unit = {
    // an IVF-PQ index shares this codebook layout but its base holds
    // CODES, not vectors — appending vector rows would corrupt it
    // silently (mixed parquet schemas + occupancy counting rows the
    // compressed scan can't read), so refuse by the pq-sidecar marker
    requireQuantizerMarker(spark, path, "",
      otherVerb = "Pq.addToIvfPqIndex", sqOtherVerb = "Sq.addToIvfSq8Index")
    val sidecar = readCodebookSidecar(spark, path)
    // belt-and-braces with the marker check above (the base schema is
    // resident per codebook generation): appending vector rows into a
    // codes-only base would be silent mixed-schema corruption (the
    // worst failure mode)
    require(baseSchema(spark, path).fieldNames.contains("b_emb"),
      s"$path/base does not hold vector rows (no b_emb column) -- not a plain IVF index")
    val inc = rows.select(id.as("b_id"), vec.as("b_emb"))
    writeIvfLake(spark, path, ivfRows(inc, sidecar._1), col("b_nrm") > 0, sidecar,
      Some(rows), ivfNothingWritten(path, sidecar._1))(())
  }

  /** Delete ids from a persisted [[buildIvfIndex]] index — the
    * RETENTION verb, closing the index lifecycle (build → add → remove):
    * without it, a retention delete on the source corpus leaves the
    * index serving ghost rows (plain IVF) or hard-failing every query
    * at the drift guard (IVF-PQ) until a full rebuild. Reference anchor:
    * the re-index semantics of
    * /root/reference/src/file_indexing_system.py:200-244, here as a
    * surgical partition rewrite instead of a rebuild.
    *
    * Only the cell partitions CONTAINING victims are rewritten (an
    * anti-join per affected cell, all cells in one distributed job);
    * untouched cells keep their files byte-for-byte. Each rewritten
    * leaf swaps in via the [[graft.etl.Compact]] park-then-swap with a
    * per-cell row-count gate proven BEFORE any swap (kept = source −
    * victims, for every affected cell), so a lossy rewrite aborts with
    * the index untouched. The occupancy sidecar is refreshed for the
    * rewritten cells from the files that were written; the codebook
    * stays immutable (cells never move — remove(build+add) ≡
    * build-without-the-victims, spec-pinned).
    *
    * Locating victims costs ONE (b_id, cell)-pruned scan of the base —
    * victims carry no cell, so one narrow lookup pass is unavoidable;
    * the rewrite reads only the affected cell directories. Removing
    * every last row leaves an empty index (all-zero occupancy); like a
    * crashed swap, queries against it fail loudly rather than answer
    * from nothing. Not transactional (same caveat as [[addToIvfIndex]]).
    */
  def removeFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column): Unit = {
    requireQuantizerMarker(spark, path, "",
      otherVerb = "Pq.removeFromIvfPqIndex",
      sqOtherVerb = "Sq.removeFromIvfSq8Index")
    // occupancy counts SCOREABLE members (norm > 0), matching the build
    removeFromIndexBase(spark, path, victims, vicId, scoreable = col("b_nrm") > 0)
  }

  /** Directed-misuse guard across the three index layouts sharing the
    * codebook/base shape: a plain-IVF verb must refuse a PQ or SQ8
    * index (its base holds codes, not vectors) and vice versa.
    * `expect` is the quantizer sidecar dir this verb's layout carries —
    * "pq", "sq", or "" for plain IVF.
    */
  private[operators] def requireQuantizerMarker(
      spark: org.apache.spark.sql.SparkSession, path: String,
      expect: String, otherVerb: String, sqOtherVerb: String = ""): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def has(m: String) = fs.exists(new org.apache.hadoop.fs.Path(s"$path/$m"))
    val present = Seq("pq", "sq").filter(has)
    expect match {
      case "" =>
        // the remedy names the verb for the layout actually FOUND:
        // a pq sidecar points at the Pq.* verb, an sq sidecar at the
        // Sq.* verb — never a Pq remedy for an SQ index
        val remedy = present.headOption match {
          case Some("sq") if sqOtherVerb.nonEmpty => sqOtherVerb
          case _ => otherVerb
        }
        require(present.isEmpty,
          s"$path is an IVF-${present.headOption.getOrElse("?").toUpperCase} index " +
            s"(has a ${present.headOption.getOrElse("?")} sidecar) -- use $remedy")
      case m =>
        require(has(m),
          if (present.isEmpty)
            s"$path has no $m sidecar -- it is a plain IVF index; use $otherVerb"
          else
            s"$path carries a ${present.head} sidecar, not $m -- use $otherVerb")
        require(present == Seq(m),
          s"$path carries conflicting quantizer sidecars ($present) -- corrupt index")
    }
  }

  /** Shared removal core for every partitioned index layout — IVF,
    * IVF-PQ and IVF-SQ8 (partition column `cell`, occupancy sidecar
    * refreshed) and the flat OPQ lake (partition column `bucket`, no
    * occupancy — a flat layout has no probe structure to keep honest).
    * The layouts differ only in what the base rows hold, which rows
    * count toward occupancy (`scoreable`), and the partition key; the
    * safety-critical machinery — victim materialization
    * ([[withVictims]]), the per-leaf rewrite and row-count gate
    * ([[rewriteLeavesWithout]]), park-then-swap — has exactly ONE
    * owner, so a fix reaches every family at once. See
    * [[removeFromIvfIndex]] for the contract; [[Pq.removeFromIvfPqIndex]]
    * and [[Sq.removeFromIvfSq8Index]] pass `lit(true)` (every persisted
    * codes row is scoreable by construction);
    * [[Opq.removeFromOpqIndex]] passes `partCol = "bucket",
    * withOccupancy = false`.
    */
  private[operators] def removeFromIndexBase(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column, scoreable: Column,
      partCol: String = "cell", withOccupancy: Boolean = true): Unit = {
    val basePath = s"$path/base"
    val bp = new org.apache.hadoop.fs.Path(basePath)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpRoot = new org.apache.hadoop.fs.Path(bp.getParent, bp.getName + "__remove_tmp")
    val oldRoot = new org.apache.hadoop.fs.Path(bp.getParent, bp.getName + "__remove_old")
    // a parked tree with FILES is a crashed removal swap — it may hold
    // a cell's only copy, so block until recovered (single owner:
    // Compact.clearOrRefuseParked); file-less residue dirs are
    // cleared. A crashed COMPACTION's parked tree blocks equally: an
    // anti-join rewrite against a cell-less lake cements the loss.
    graft.etl.Compact.clearOrRefuseParked(fs, oldRoot, "removal")
    graft.etl.Compact.requireIndexServable(spark, path, "base", action = "removal")
    // an already-emptied base (every leaf previously removed) holds no
    // victims by definition — and a schema-less read of it would die
    // in parquet inference with an error naming nothing
    if (!fs.exists(bp) || listDataFiles(fs, basePath).isEmpty) return
    withVictims(fs, bp, victims.select(vicId.as("b_id")).distinct()) { vic =>
      val sidecar =
        if (withOccupancy) Some(readCodebookSidecar(spark, path)) else None
      val lake = readBaseLake(spark, path)
      val (affected, tmpCnt) = rewriteLeavesWithout(
        lake, basePath, vic, "b_id", partCol, tmpRoot, scoreable)
      if (affected.nonEmpty) {
        // the DECREMENTED sidecar is written BEFORE the swaps: occupancy
        // must never overcount a swapped-out cell (members > 0 with no
        // cell dir is a GHOST cell — probed, silently empty, and a
        // re-run of the removal finds no victims so it can never heal).
        // With the sidecar first, every crash window is retry-safe
        // instead: an emptied cell goes members=0 while its victim rows
        // are still on disk (liveCentroids skips it — unreachable
        // victims ARE removed), and a partially-emptied cell stays live
        // with its victims still present, so re-running the same
        // removal finds them and completes the rewrite.
        // Transiently-visible victims until the retry beat
        // permanently-invisible survivors. (Occupancy-less layouts —
        // the flat OPQ lake — skip this step: nothing probes their
        // leaves.)
        sidecar.foreach { case (codebook, prevMembers) =>
          val members = codebook.indices.map { c =>
            c -> (if (affected.contains(c)) tmpCnt.get(c).map(_._2).getOrElse(0L)
                  else prevMembers.getOrElse(c, 0L))
          }.toMap
          writeCodebookSidecar(spark, path, codebook, members)
          // the rewrite keeps the lake's schema; the sidecar moved its
          // generation
          recordBaseSchema(spark, path, lake.schema)
        }
        // per-leaf two-rename swaps (metadata ops); a fully-emptied leaf
        // is parked then dropped — its occupancy row (if any) is already 0
        graft.etl.Compact.swapRewrittenLeaves(
          fs, bp, tmpRoot, oldRoot, affected.map(c => s"$partCol=$c").toSeq)
      }
    }
  }

  /** Run `body` over the victim ids MATERIALIZED once at
    * `<lake>__remove_vic` (read back with their known schema): every
    * job of a removal would otherwise re-evaluate the caller's plan,
    * and a nondeterministic one (sample, limit, first-wins agg) could
    * pass the gate while leaving "removed" rows on disk.
    */
  private[operators] def withVictims[A](
      fs: org.apache.hadoop.fs.FileSystem, lake: org.apache.hadoop.fs.Path,
      ids: DataFrame)(body: DataFrame => A): A = {
    val dir = new org.apache.hadoop.fs.Path(lake.getParent, lake.getName + "__remove_vic")
    fs.delete(dir, true)
    try {
      ids.write.mode("overwrite").parquet(dir.toString)
      body(ids.sparkSession.read.schema(ids.schema).parquet(dir.toString))
    } finally fs.delete(dir, true)
  }

  /** The leaf-removal rewrite-and-gate of every partitioned lake (the
    * IVF family, OPQ, the BM25 postings): only the `partCol` leaves
    * holding a victim `idCol` are read back (by path, under the lake
    * `root`: [[Leaves.read]]) and rewritten without it, into `tmpRoot`.
    * ONE narrow (id, leaf) ⋈ victims pass answers which leaves those
    * are and the per-leaf (rows, victims) counts of the gate. The
    * rewrite is one job for all of them, OUTSIDE the lake (a work dir
    * inside it would read as a partition directory), clustered so each
    * leaf lands as ONE file. Gate BEFORE any swap: kept must equal
    * read − victims per leaf, or `tmpRoot` is dropped and the removal
    * aborts with the lake untouched. Returns the affected leaves
    * (sorted; none: nothing written) and the (rows, `scoreable` rows)
    * per non-empty rewritten leaf; the caller swaps them in
    * ([[graft.etl.Compact.swapRewrittenLeaves]]) in its own order.
    */
  private[operators] def rewriteLeavesWithout(
      lake: DataFrame, root: String, vic: DataFrame, idCol: String, partCol: String,
      tmpRoot: org.apache.hadoop.fs.Path,
      scoreable: Column = lit(true)): (Array[Int], Map[Int, (Long, Long)]) = {
    val spark = lake.sparkSession
    val fs = tmpRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmpRoot, true)
    val leafStats = lake.select(col(idCol), col(partCol))
      .join(vic.withColumn("__v", lit(1)), Seq(idCol), "left")
      .groupBy(partCol)
      .agg(count(lit(1)).as("n"), count(col("__v")).as("nv"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val affected = leafStats.collect { case (c, (_, nv)) if nv > 0 => c }
      .toArray.sorted
    if (affected.isEmpty) return (affected, Map.empty)
    Leaves.read(spark, root, lake.schema, partCol, affected)
      .join(vic, Seq(idCol), "left_anti")
      .select(lake.columns.map(col): _*) // the using join moved the id first
      .transform(clusterForWrite(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(tmpRoot.toString)
    // an all-victims rewrite produces no files at all: no read
    val tmpCnt: Map[Int, (Long, Long)] =
      if (listDataFiles(fs, tmpRoot.toString).isEmpty) Map.empty
      else spark.read.schema(lake.schema).parquet(tmpRoot.toString)
        .groupBy(partCol)
        .agg(count(lit(1)).as("n"), count(when(scoreable, lit(1))).as("ns"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    affected.foreach { c =>
      val (n, nv) = leafStats(c)
      val kept = tmpCnt.get(c).map(_._1).getOrElse(0L)
      if (kept != n - nv) {
        fs.delete(tmpRoot, true)
        throw new IllegalStateException(
          s"removal rewrite of $root $partCol=$c would lose rows " +
            s"($n read, $nv victims, $kept rewritten) -- aborted, index untouched")
      }
    }
    (affected, tmpCnt)
  }

  /** The write core of the IVF family: plain IVF, IVF-PQ and IVF-SQ8
    * build (`increment = None`: overwrite) and add (`Some(rows)`:
    * append) through it; each family keeps its guard, its encoder and
    * its quantizer sidecar.
    *
    *  1. A rebuild first deletes the index-complete marker
    *     (`path/codebook`): a crash after the base overwrite must not
    *     pair the new base with the stale codebook and serve silently
    *     wrong results — with the marker gone every entry point refuses.
    *  2. `encoded` — (b_id, payload…, cell) rows — is written to
    *     `path/base` by cell ([[clusterForWrite]]).
    *  3. Occupancy (`scoreable` rows per cell) is counted from exactly
    *     the data files this write landed (a listing snapshot), read
    *     with the written frame's schema — not by re-evaluating the
    *     encode plan, which a nondeterministic input would make
    *     disagree with disk (a cell whose only members were appended
    *     could read members=0, unreachable forever), and not over the
    *     whole base (a corpus scan per 1% increment).
    *  4. A write that landed no data file is refused with
    *     `nothingWritten` unless it adds an empty increment (the
    *     `rows.limit(1)` probe runs only then): the silent drop is the
    *     ANN family's worst failure mode. Rows gated out one by one
    *     stay dropped.
    *  5. `quantizerSidecar` (the `pq`/`sq` dir, also the layout
    *     marker), then the codebook sidecar LAST: `sidecar`'s
    *     centroids, its occupancy (empty on build) plus what landed.
    *  6. The lake schema `encoded` was written with is recorded for the
    *     new codebook generation ([[recordBaseSchema]]), so the next
    *     [[readBaseLake]] pays no footer-inference job.
    */
  private[operators] def writeIvfLake(
      spark: org.apache.spark.sql.SparkSession, path: String,
      encoded: DataFrame, scoreable: Column,
      sidecar: (Array[Array[Double]], Map[Int, Long]),
      increment: Option[DataFrame], nothingWritten: => String)(
      quantizerSidecar: => Unit): Unit = {
    val basePath = s"$path/base"
    val fs = new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (increment.isEmpty) fs.delete(new org.apache.hadoop.fs.Path(s"$path/codebook"), true)
    val before = if (increment.isEmpty) Set.empty[String] else listDataFiles(fs, basePath)
    encoded.transform(clusterForWrite("cell"))
      .write.partitionBy("cell").mode(if (increment.isEmpty) "overwrite" else "append")
      .parquet(basePath)
    val written = (listDataFiles(fs, basePath) -- before).toSeq
    if (written.isEmpty) require(increment.exists(_.limit(1).collect().isEmpty), nothingWritten)
    val reader = spark.read.schema(encoded.schema)
    val delta =
      if (written.isEmpty) Map.empty[Int, Long]
      else (if (increment.isEmpty) reader.parquet(basePath)
            else reader.option("basePath", basePath).parquet(written: _*))
        .filter(scoreable)
        .groupBy("cell").agg(count(lit(1)).as("__m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // <= nlist rows
    quantizerSidecar
    val (codebook, prior) = sidecar
    writeCodebookSidecar(spark, path, codebook, codebook.indices
      .map(c => c -> (prior.getOrElse(c, 0L) + delta.getOrElse(c, 0L))).toMap)
    recordBaseSchema(spark, path, org.apache.spark.sql.types.StructType(
      encoded.schema.filter(_.name != "cell") ++ encoded.schema.filter(_.name == "cell")))
  }

  /** Cluster rows by the partition key before a `partitionBy` write —
    * the discipline every index build/append/rewrite in the family
    * shares. A bare partitionBy lets every task fragment every key it
    * holds rows for (tasks × keys files, whose open/commit overhead
    * dominates small builds and decays large ones); a plain
    * `repartition(key)` fixes the file count but pins each key's
    * ENTIRE payload to one task — a hot cell at 100 TB serializes
    * into a single writer (round-15's open flaw), and a tiny build
    * pays one task per key regardless of data size. REBALANCE gives
    * both ends: rows cluster by key, AQE coalesces small partitions
    * (tiny builds land in a handful of write tasks) and
    * `optimizeSkewsInRebalancePartitions` (on by default) SPLITS an
    * oversized key across writers by `advisoryPartitionSizeInBytes` —
    * the hot cell writes in parallel as several files instead of one
    * giant serialized one (guide §6's REBALANCE-before-write).
    */
  private[graft] def clusterForWrite(partCol: String)(df: DataFrame): DataFrame =
    df.hint("rebalance", col(partCol))

  /** All data-file paths under `dir`, recursive. Hidden-name rule
    * shared with [[graft.etl.Compact.isHiddenName]], applied to EVERY
    * path segment below `dir` — a crashed write's
    * `_temporary/.../part-x.parquet` must not count as data (readers
    * don't see it, so neither may the occupancy diff).
    */
  private[graft] def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Set[String] = {
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
    def hiddenAnywhere(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      while (cur != null && cur != base) {
        if (graft.etl.Compact.isHiddenName(cur.getName)) return true
        cur = cur.getParent
      }
      false
    }
    graft.etl.Compact.walkFiles(fs, base).map(_.getPath)
      .filterNot(hiddenAnywhere).map(_.toString).toSet
  }

  /** The persisted coarse codebook (double centroids, for assignment
    * parity with the original build) plus the occupancy counts — the
    * single owner of the sidecar read + dense-cells validation shared
    * by every verb of the IVF family, reads and writes alike. Bounded
    * collect (<= nlist rows), resident per codebook generation
    * ([[SidecarMemo]]): callers must not mutate the arrays.
    */
  private[operators] def readCodebookSidecar(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], Map[Int, Long]) =
    SidecarMemo(spark, s"$path/codebook", "codebook") {
      // read with its fixed schema: no footer-inference job
      val cbRows = spark.read.schema(CodebookReadSchema).parquet(s"$path/codebook").collect()
      require(!cbRows.exists(_.anyNull), s"$path/codebook has null fields -- corrupt index")
      require(cbRows.nonEmpty, s"$path/codebook is empty -- not an index")
      val byCell = cbRows.sortBy(_.getInt(0))
      require(
        byCell.map(_.getInt(0)).sameElements(byCell.indices),
        s"$path/codebook cells are not dense 0..${byCell.length - 1} -- corrupt index")
      (byCell.map(_.getSeq[Double](1).toArray),
        byCell.map(r => r.getInt(0) -> r.getLong(2)).toMap)
    }

  private val CodebookReadSchema = StructType(Seq(
    StructField("cell", IntegerType),
    StructField("centroid_d", org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
    StructField("members", org.apache.spark.sql.types.LongType)))

  /** Write the codebook sidecar (centroids in both precisions +
    * occupancy, via [[codebookFrame]] — the single owner of the float
    * cast) into `codebook__tmp` and put it in place
    * ([[graft.etl.Compact.replaceDir]]): a crash mid-write never
    * leaves a partial index-complete marker. What it wrote is recorded
    * for the new generation ([[SidecarMemo.record]]), so the next
    * [[readCodebookSidecar]] loads nothing.
    */
  private[operators] def writeCodebookSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String,
      codebook: Array[Array[Double]], members: Map[Int, Long]): Unit = {
    import spark.implicits._
    val mdf = members.toSeq.toDF("__cell", "__m")
    val cb = codebookFrame(spark, codebook, codebook.indices)
      .join(mdf, col("cell") === col("__cell"), "left")
      .select(col("cell"), col("centroid"), col("centroid_d"),
        coalesce(col("__m"), lit(0L)).as("members"))
      .coalesce(1)
    val target = new org.apache.hadoop.fs.Path(s"$path/codebook")
    graft.etl.Compact.replaceDir(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target, "") { tmp =>
      cb.write.mode("overwrite").parquet(tmp.toString)
    }
    SidecarMemo.record(spark, s"$path/codebook", "codebook",
      (codebook, codebook.indices.map(c => c -> members.getOrElse(c, 0L)).toMap))
  }

  /** Compact a persisted index's base lake (`path/base`) — the second
    * half of the growth lifecycle: every [[addToIvfIndex]] /
    * [[Pq.addToIvfPqIndex]] increment appends one file per touched
    * cell, so a daily-add index decays after a year into ~365 small
    * files per cell — exactly the listing/footer pathology
    * [[graft.etl.Compact]] exists to fix, here composed with the index
    * layout. Delegates to [[graft.etl.Compact.compactPartitioned]]
    * (only fragmented cells are rewritten, in one write outside the
    * lake; every cell's footer row count is gated before the first
    * park-then-swap), so the cell partition names survive untouched;
    * the codebook/pq sidecars are never touched, and query results are
    * bit-identical before/after (spec-pinned — compaction moves bytes,
    * never rows). Works on both the IVF and IVF-PQ layouts (it only
    * sees the partitioned base).
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.etl.Compact.CompactStats)] =
    graft.etl.Compact.compactPartitioned(spark, s"$path/base", targetBytes)

  /** Re-fit a persisted plain-IVF index's coarse quantizer at a new
    * cell count — the [[graft.operators.Bm25.rebucketLexIndex]] twin
    * for the ANN family, closing the "re-fit-or-accept" gap: nlist is
    * baked in at build time, so a 100×-grown index keeps its toy-scale
    * cell layout, per-cell occupancy balloons, and probing degrades
    * toward a full scan. The plain-IVF base stores RAW vectors, which
    * makes the re-fit self-contained: one full base read (inherent —
    * every row re-assigns), a fresh deterministic k-means fit at
    * `newNlist`, one partitioned rewrite OUT OF PLACE (this is
    * [[buildIvfIndex]] against a temp root, so sidecar precision and
    * occupancy semantics are identical to a fresh build by
    * construction — and since [[sampleVectors]] canonicalizes the fit
    * sample's order, the refit codebook is BIT-IDENTICAL to a fresh
    * build's over the same rows, whatever layout the base sits in), a
    * pre-swap row-count gate, then ONE swap of the whole index root
    * through the journaled core ([[graft.etl.Compact.rewriteJournaled]],
    * verb `refit`). Crash contract, shared with every whole-directory
    * rewrite: before the swap the original is untouched (tmp residue
    * and an aborted gate leave nothing behind); a crash in the swap
    * window parks the original at `path__refit_old` under the
    * `.<name>__swap_intent` manifest beside it, and the next refit
    * converges first — restoring the park when the root is missing,
    * dropping it when the root is the recorded rewrite, refusing
    * anything else — and then refits to the width it was asked for
    * (already at that width: a no-op). Serving refuses a filed park throughout
    * ([[graft.etl.Compact.requireIndexServable]]). Post-swap, cached
    * plans/listings over the path are invalidated (`refreshByPath`) so
    * no reader pairs old cell rows with the new codebook.
    *
    * The quantizer is re-trained on the CURRENT base (the fitOn
    * train/add split does not survive a refit — the original fit frame
    * is gone; at refit time the base itself IS the representative
    * sample). PQ/SQ8 indexes store codes, not vectors, and their
    * codebooks/stats bind to the coarse geometry — a re-fit from
    * decoded vectors would silently bake quantization error into the
    * assignment, so they are REFUSED here with the rebuild verb named:
    * re-fit those from the corpus.
    */
  def refitIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newNlist: Int, seed: Long = 42L, maxFit: Long = 100000L): Unit = {
    require(newNlist >= 1, s"newNlist must be >= 1, got $newNlist")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.etl.Compact.rewriteJournaled(fs, root, "refit") { tmp =>
      requireQuantizerMarker(spark, path, "",
        otherVerb = "Pq.buildIvfPqIndex on the source corpus (codes carry no raw vectors to re-fit from)",
        sqOtherVerb = "Sq.buildIvfSq8Index on the source corpus (codes carry no raw vectors to re-fit from)")
      // parked BASE leaves (a crashed remove/compact) block equally — a
      // refit reading a cell-less base would cement the loss
      graft.etl.Compact.requireServable(
        fs, new org.apache.hadoop.fs.Path(root, "base"), action = "refitting")
      if (readCodebookSidecar(spark, path)._1.length != newNlist) {
        val base = spark.read.parquet(s"$path/base").select("b_id", "b_emb")
        val nSrc = base.count()
        buildIvfIndex(base, col("b_id"), col("b_emb"), tmp.toString,
          nlist = newNlist, seed = seed, maxFit = maxFit)
        val nTmp = spark.read.parquet(s"$tmp/base").count()
        if (nTmp != nSrc)
          throw new IllegalStateException(
            s"refit of $path would lose rows ($nSrc read, $nTmp rewritten) — aborted, original untouched")
      }
    }
    // drop cached plans/file listings over the swapped tree — a stale
    // InMemoryFileIndex (or a cached DataFrame over path/base) would
    // pair OLD cell rows with the NEW codebook, which is silently
    // wrong, or throw on renamed-away files
    spark.catalog.refreshByPath(path)
  }

  /** Bounded observability read of a persisted index's codebook
    * sidecar: total occupancy, cell count, live-cell count. SINGLE
    * owner of the aggregate shared by the HTML inventory cards and the
    * HTTP `/index/stats` endpoint — ≤ nlist rows read, the base lake
    * never scanned. Works for both the plain-IVF and IVF-PQ layouts
    * (same codebook schema).
    */
  case class IndexOccupancy(occupancy: Long, cells: Long, liveCells: Long)

  def indexOccupancy(
      spark: org.apache.spark.sql.SparkSession, path: String): IndexOccupancy = {
    val (codebook, members) = readCodebookSidecar(spark, path)
    IndexOccupancy(members.values.sum, codebook.length, members.values.count(_ > 0))
  }

  /** KNN against a persisted [[buildIvfIndex]] index: the probed cells'
    * vectors from [[probeFront]] (filtered search by `eligible`
    * included), scored exactly. Same arithmetic as [[knnIvf]]
    * end-to-end: the same build inputs and the same (k, nprobe) produce
    * identical rows. Nothing is cached, so there is no cache for the
    * caller to clear.
    */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nprobe: Int = 4,
      eligible: Option[(DataFrame, Column)] = None,
      withVec: Boolean = false): DataFrame = {
    val (_, _, probed, base) =
      probeFront(spark, path, "b_emb", queries, qId, qVec, nprobe, eligible)(None)
    val filtered = base.filter(col("b_nrm") > 0) // zero-norm: see validVectors
    val top = topkPerQuery(filtered.join(broadcast(probed), "cell")
      .select(col("q_id"), col("b_id"), exactSim), k)
    if (!withVec) top
    else
      // `withVec`: carry each served neighbor's embedding for
      // downstream re-ranks ([[Mmr.diversify]] at the serving layer).
      // The join re-reads ONLY the probed cell leaves (same
      // leaf read as the scoring pass) for ≤ queries × k
      // ids — never the whole lake; results are identical to the
      // plain form plus one column.
      top.join(filtered.select(col("b_id"), col("b_emb")), "b_id")
        .select(col("q_id"), col("b_id"), col("rank"), col("sim"), col("b_emb"))
  }

  /** Every b_id the persisted index currently serves — a NARROW
    * id-only column scan of the base lake (parquet column pruning:
    * nothing else is read). Works for both the IVF and the IVF-PQ
    * layout (both store base rows keyed by `b_id`). The id surface
    * for exactly-once stream ingest
    * ([[graft.streaming.Streams.indexIngest]]'s dedupe leg); the lex
    * twin is [[Bm25.lexIndexIds]].
    */
  def indexIds(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/base").select("b_id")

  /** LIVE (members > 0) centroids of a persisted index — the
    * probe-side read of [[probeFront]]. Returns the resident double
    * codebook, the live cells, and the probe frame (cell, centroid,
    * c_nrm) as a LOCAL relation built from the codebook through
    * [[centroidFrame]] — the same float cast the sidecar's float column
    * was written with, so probe ranks stay bit-identical, and
    * collecting its rows for the driver-side probe ([[probePruned]])
    * runs no Spark job.
    */
  private[operators] def readLiveCentroids(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Array[Double]], Seq[Int], DataFrame) = {
    val (codebook, members) = readCodebookSidecar(spark, path)
    val live = members.collect { case (c, m) if m > 0 => c }.toSeq.sorted
    (codebook, live, centroidFrame(spark, codebook, Some(live))) // live cells: see topProbeCells
  }

  /** The schema of a persisted index's cell-partitioned base lake,
    * resident per codebook generation (every writer of the base
    * rewrites the codebook sidecar, and records the schema it wrote:
    * [[recordBaseSchema]]), which spares the footer-inference job per
    * read.
    */
  private[operators] def baseSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.types.StructType =
    SidecarMemo(spark, s"$path/codebook", "base")(spark.read.parquet(s"$path/base").schema)

  /** Every leaf of the base lake (the removal's per-leaf victim scan),
    * read with the resident [[baseSchema]].
    */
  private[operators] def readBaseLake(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(baseSchema(spark, path)).parquet(s"$path/base")

  /** The query verb of each persisted IVF-family layout, by the column
    * only that layout's base holds.
    */
  private val QueryVerbs = Seq(
    "b_emb" -> "Ann.queryIvfIndex", "d_nrm" -> "Pq.queryIvfPqIndex",
    "r_nrm" -> "Sq.queryIvfSq8Index")

  /** The probe front every persisted IVF-family query shares
    * ([[queryIvfIndex]], [[Pq.queryIvfPqIndex]],
    * [[Sq.queryIvfSq8Index]]); the verbs keep only their scan score and
    * their tail. In order:
    *
    *  1. the servability guard;
    *  2. the layout check: the resident [[baseSchema]] must hold
    *     `payload`, the column only the calling verb's layout has, or
    *     the call is refused naming the verb of the layout found (no
    *     file-system call: the schema is read once and serves step 6);
    *  3. the resident live centroids ([[readLiveCentroids]]);
    *  4. the bounded query batch, collected once on the driver
    *     ([[localBatch]] of [[validQueries]]);
    *  5. the dim check against `dim` — evaluated here, after step 2, so
    *     a verb may read its quantizer for it. None is plain IVF's
    *     rule: the coarse codebook's dim, enforced only while some cell
    *     is live (an all-dead index answers nothing, so there is no dim
    *     to enforce);
    *  6. the probe, ranked on the driver ([[probePruned]], no Spark
    *     job), and the probed cell leaves read by path
    *     ([[Leaves.read]]): only those are listed and read, and the
    *     plan holds no cell literal;
    *  7. `eligible` — FILTERED search (the serving-side metadata
    *     predicate: "nearest neighbors WHERE license = permissive"): a
    *     frame + id column naming the base ids allowed to score.
    *     PRE-filtering, not post-filtering — ineligible candidates are
    *     semi-joined out of the probed-cell scan BEFORE scoring, so the
    *     top-k (or a quantized verb's shortlist) ranks over eligible
    *     candidates only (a post-filter would return < k rows and
    *     silently lose eligible neighbors ranked k+1+). The index
    *     stores vectors or codes only; eligibility arrives as an id set
    *     so any metadata predicate — computed on any table — can drive
    *     it. Spark picks broadcast vs shuffle for the semi-join from the
    *     eligible frame's size (AQE). Queries whose probed cells hold
    *     no eligible candidate return no rows.
    *
    * Returns (coarse codebook, query batch (q_id, q_emb, qp_nrm), probe
    * frame (q_id, cell, q_emb, qp_nrm), probed base rows).
    */
  private[operators] def probeFront(
      spark: org.apache.spark.sql.SparkSession, path: String, payload: String,
      queries: DataFrame, qId: Column, qVec: Column, nprobe: Int,
      eligible: Option[(DataFrame, Column)])(
      dim: => Option[Int]): (Array[Array[Double]], DataFrame, DataFrame, DataFrame) = {
    graft.etl.Compact.requireIndexServable(spark, path, "base")
    val schema = baseSchema(spark, path)
    val fields = schema.fieldNames
    require(fields.contains(payload), {
      val found = QueryVerbs.collectFirst { case (c, v) if fields.contains(c) => v }
        .filter(_ => fields.contains("cell"))
      s"$path/base holds no $payload column, so it is not the layout this verb reads" +
        found.fold(" -- not an IVF-family index")(v => s" -- use $v")
    })
    val (codebook, live, centDf) = readLiveCentroids(spark, path)
    val q = localBatch(validQueries(queries, qId, qVec))
    dim.orElse(Option.when(live.nonEmpty)(codebook(0).length)).foreach(requireQueryDim(q, _))
    val (cells, probed) = probePruned(q, centDf, nprobe)
    val base = Leaves.read(spark, s"$path/base", schema, "cell", cells)
    (codebook, q, probed, eligible.fold(base) { case (el, elId) =>
      base.join(el.select(elId.as("b_id")), Seq("b_id"), "left_semi")
    })
  }

  /** Record `written` — the base lake's columns as written, partition
    * column last — for the codebook generation a write just made, in
    * the form parquet inference reads back (every field nullable).
    */
  private def recordBaseSchema(
      spark: org.apache.spark.sql.SparkSession, path: String,
      written: org.apache.spark.sql.types.StructType): Unit =
    SidecarMemo.record(spark, s"$path/codebook", "base",
      org.apache.spark.sql.GraftColumnShim.asNullable(written))

  /** A bounded query frame resolved ONCE on the driver: its rows
    * collected (over a driver-local batch — every HTTP request — Spark
    * folds the projection into the local relation and runs no job) and
    * served back as a local relation, so every later use of the batch
    * (dim check, probe, scoring, rerank) reads the same rows without
    * evaluating the caller's plan again. Bounded: the batch contract
    * every serving verb keeps (the same rows used to ride broadcasts).
    */
  private[operators] def localBatch(q: DataFrame): DataFrame =
    localFrame(q.sparkSession, q.schema, q.collect().toSeq)

  /** `rows` as a driver-local relation of `schema`: scanning it, or
    * broadcasting it, reads no file, and its values reach no generated
    * code.
    */
  private[operators] def localFrame(
      spark: org.apache.spark.sql.SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Probe + prune for a persisted index, over a [[localBatch]] `q`
    * of (q_id, q_emb, qp_nrm) and the local probe frame `centDf` of
    * [[readLiveCentroids]]: both are collected without a Spark job and
    * the top-`nprobe` (q_id, cell) rows are ranked on the driver
    * ([[probeCells]], ≤ queries × nprobe). They serve twice — their
    * distinct cells are the pruning list, and joined on the driver to
    * the batch's rows they are the probe side of the scoring join, one
    * local relation of (q_id, cell, q_emb, qp_nrm). Nothing is cached.
    * The join keeps the equi-join rules of [[knnIvf]]'s probe: a null
    * q_id probes nothing, and every row of a repeated q_id scores its
    * vector against all cells probed for that id. Returns (pruning
    * cells, probe frame).
    */
  private[operators] def probePruned(
      q: DataFrame, centDf: DataFrame, nprobe: Int): (Array[Int], DataFrame) = {
    val batch = q.collect()
    val probes = probeCells(batch, q.schema("q_emb").dataType, centDf.collect(), nprobe)
      .filter(_._1 != null)
    val byId = batch.groupBy(_.get(0))
    val rows = for ((id, cell) <- probes; r <- byId(id))
      yield Row(r.get(0), cell, r.get(1), r.get(2))
    (probes.map(_._2).distinct.toArray,
      localFrame(q.sparkSession, StructType(Seq(q.schema("q_id"),
        StructField("cell", IntegerType), q.schema("q_emb"), q.schema("qp_nrm"))), rows))
  }

  /** [[topProbeCells]] ranked on the driver, over rows already held
    * there: `q` rows (q_id, q_emb, qp_nrm) with `qEmb` the type of
    * q_emb (a float or a double array), and `cents` rows (cell,
    * centroid, c_nrm) of [[centroidFrame]]. The same ranks bit for bit:
    * the dot is [[VecDot.fold]], the same
    * division, -2 for a zero-norm centroid, a null sim dropped, and
    * the k-buffer's order ([[TopK.beatsD]]: sim descending, cell
    * ascending). Rows group by q_id as `topProbeCells`'s aggregate
    * groups them: a repeated q_id ranks the union of its rows (a cell
    * may come twice) and the null q_id is one group. Returns
    * (q_id, cell) pairs.
    */
  private[operators] def probeCells(
      q: Seq[Row], qEmb: DataType, cents: Seq[Row], nprobe: Int): Seq[(Any, Int)] = {
    require(nprobe >= 1, s"top-k requires k >= 1, got $nprobe")
    val qFloat = qEmb.asInstanceOf[ArrayType].elementType == FloatType
    def arr(r: Row, i: Int) = new GenericArrayData(r.getSeq[Any](i).toArray)
    val cs = cents.map(c => (c.getInt(0), arr(c, 1), c.getDouble(2)))
    q.groupBy(_.get(0)).toSeq.flatMap { case (id, rows) =>
      val sims: Seq[(Double, Int)] = for {
        r <- rows
        qv = arr(r, 1)
        (cell, cv, cNrm) <- cs
        // `c_nrm > 0` in SQL order: NaN is above every number
        sim <- if (cNrm > 0 || cNrm.isNaN)
          cosine(VecDot.fold(qv, qFloat, cv, bFloat = true), r.getDouble(2) * cNrm)
        else Some(-2.0)
      } yield (sim, cell)
      sims.sortWith((x, y) => TopK.beatsD(x._1, x._2, y._1, y._2)).take(nprobe).map(s => (id, s._2))
    }
  }

  /** `dot / nrm` as SQL divides a double: a null dot gives no sim, and
    * a zero divisor fails, as ANSI mode does.
    */
  private def cosine(dot: Any, nrm: Double): Option[Double] =
    if (dot == null) None
    else if (nrm == 0.0) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero.")
    else Some(dot.asInstanceOf[Double] / nrm)

  /** Embedding-cosine near-duplicate pairs at corpus scale: candidate
    * generation via multi-table sign-LSH bucket equi-join, then an exact
    * strict-fold cosine verify over the candidates only — the vector
    * twin of [[Dedup.minhashPairs]] (bands → candidates → exact
    * verify), replacing any all-pairs/blocked-cross candidate join.
    *
    * Shuffle budget: the bucket self-join ships (table, bucket, id)
    * rows only — `tables` narrow rows per vector; candidate pairs are
    * deduped BEFORE embeddings are re-joined for scoring, so the wide
    * arrays travel once per surviving pair side, not per collision.
    * Recall is tunable the standard LSH way (fewer `bits` → bigger
    * buckets; more `tables` → more chances to collide) and is measured
    * against the all-pairs baseline in ScalaTest; reported similarities
    * are exact regardless of recall.
    *
    * Reference contract: the bounded-distance similarity θ-join of
    * /root/reference/src/media_fingerprinting.py:278-310, re-keyed for
    * cosine over embeddings.
    *
    * CALLER CONTRACT: caches two narrow frames; wrap in [[Dedup.scoped]]
    * (or clear the cache) exactly as with the text-dedup operators.
    */
  def cosineNeardupLsh(
      df: DataFrame, id: Column, vec: Column,
      minSim: Double, bits: Int = 8, tables: Int = 2): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    // narrow per-row prep, scanned by the bucket pass and both verify
    // joins: the valid vectors ([[validVectors]])
    val e = Dedup.scopedCache(validVectors(df, id, vec))
    val buckets = Dedup.scopedCache(e.select(
      col("b_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Vectors.signLsh(col("b_emb"), bits, t).as("bucket"))): _*)).as("tb")))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.tb") === col("y.tb") && col("x.b_id") < col("y.b_id"))
      .select(col("x.b_id").as("d1"), col("y.b_id").as("d2"))
      .distinct()
    cand
      .join(e.select(col("b_id").as("d1"), col("b_emb").as("ea"), col("b_nrm").as("na")), "d1")
      .join(e.select(col("b_id").as("d2"), col("b_emb").as("eb"), col("b_nrm").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        (Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication"): embedding-CLUSTER the corpus with the coarse
    * k-means quantizer, then find cosine-τ near-duplicate pairs
    * WITHIN each cluster — candidate generation is cluster-bounded
    * (Σ|cell|² pairwise work, never corpus-quadratic), which is what
    * makes semantic dedup tractable at web scale. A τ-pair split
    * across a cluster boundary is missed: the paper's deliberate
    * recall trade, measured here in ScalaTest (the clustered-fixture
    * spec pins within-cluster recall at 1.0) — candidate selection is
    * engine-side like [[knnIvf]]'s cells, so the d06 oracle verifies
    * every REPORTED pair's cosine bit-for-bit plus a non-vacuous
    * floor, and deliberately does not constrain which pairs were
    * considered.
    *
    * SIZE nlist TO THE CORPUS (the paper runs tens of thousands of
    * clusters): mean cell size = N/nlist drives the per-cell pairwise
    * cost, and a hot cell is AQE's skew case on the self-join.
    * Reported sims are exact strict-fold cosines over the ORIGINAL
    * vectors (the [[cosineNeardupLsh]] arithmetic — hoisted norms,
    * same operand order).
    */
  def semDedupPairs(
      df: DataFrame, id: Column, vec: Column, tau: Double,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val e = Dedup.scopedCache(validVectors(df, id, vec))
    val codebook = fitCodebook(e.select("b_id", "b_emb"), nlist, seed, maxFit)
    val cells = Dedup.scopedCache(
      e.withColumn("cell", cellExpr(col("b_emb"), codebook))
        .filter(col("cell").isNotNull))
    cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.b_id") < col("b.b_id"))
      .select(col("a.b_id").as("d1"), col("b.b_id").as("d2"),
        (Vectors.dot(col("a.b_emb"), col("b.b_emb")) / (col("a.b_nrm") * col("b.b_nrm"))).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** SemDeDup keep/drop decisions: [[semDedupPairs]] →
    * [[Dedup.groupPairs]] connected components → keep the smallest id
    * per component (the repo's deterministic keep-first convention; the
    * paper keeps by centroid distance — a policy choice, not a
    * correctness one). One row per scoreable input:
    * (doc_id, group_id, keep).
    */
  def semDedup(
      df: DataFrame, id: Column, vec: Column, tau: Double,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    val pairs = semDedupPairs(df, id, vec, tau, nlist, seed, maxFit)
    val groups = Dedup.groupPairs(pairs)
    validVectors(df, id, vec).select(col("b_id").as("doc_id"))
      .join(groups, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"),
        (coalesce(col("group_id"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Approximate top-k via sign-LSH bucketing: candidates are base rows
    * sharing the query's bucket in ANY of `tables` independent hash
    * tables; rank within the deduplicated candidate set. Recall rises
    * with fewer bits (bigger buckets), with more tables (the standard
    * multi-table LSH recall knob — candidate volume scales ∝ tables,
    * each table still an equi-join), and with `multiprobe`.
    *
    * `multiprobe` additionally probes every Hamming-neighbor of the
    * query's bucket within `probeRadius` bit flips in each table
    * (radius 1: bucket ⊕ 2^j per plane — a near-miss on a single
    * hyperplane no longer loses the candidate; radius 2 adds every
    * two-plane flip, the standard multi-probe LSH ladder). The
    * expansion is QUERY-side only: the base keeps exactly `tables`
    * bucket entries per row, so at scale the shuffled/broadcast index
    * footprint is unchanged and only the tiny query side fans out
    * ×(1 + bits + C(bits,2)) at radius 2. That makes multiprobe the
    * cheap recall knob (more tables grow the base-side footprint
    * linearly; probing grows nothing but the probe list).
    */
  def knnLsh(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, bits: Int = 8, tables: Int = 1,
      multiprobe: Boolean = false, probeRadius: Int = 1): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    require(probeRadius >= 1 && probeRadius <= 2,
      s"probeRadius must be 1 or 2, got $probeRadius")
    val b0 = validVectors(base, baseId, baseVec)
    val q0 = validQueries(queries, qId, qVec)
    // one (table, bucket) key per row per table: a single explode keeps
    // one scan of each side instead of a tables-way union
    def bucketed(df: DataFrame, vec: String) = df.withColumn(
      "tb",
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Vectors.signLsh(col(vec), bits, t).as("bucket"))): _*)))
    // query-side probe expansion: the exact bucket plus (multiprobe)
    // every ≤ probeRadius-bit flip. The masks are pairwise distinct,
    // so within one table no duplicate candidates arise
    val qBucketed0 = bucketed(q0, "q_emb")
    val probeMasks: Seq[Long] = {
      val singles = (0 until bits).map(j => 1L << j)
      val pairs =
        if (probeRadius < 2) Seq.empty
        else for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)
      0L +: (singles ++ pairs)
    }
    val qBucketed =
      if (!multiprobe) qBucketed0
      else qBucketed0.withColumn("tb", explode(array(
        probeMasks.map(m =>
          struct(col("tb.t").as("t"),
            col("tb.bucket").bitwiseXOR(lit(m)).as("bucket"))): _*)))
    val scored0 = bucketed(b0, "b_emb").join(
        broadcast(qBucketed.select(col("tb"), col("q_id"), col("q_emb"), col("qp_nrm"))),
        "tb")
      .select(col("q_id"), col("b_id"), exactSim)
    // a pair colliding in several tables would occupy several top-k
    // slots — dedup AFTER scoring so the shuffle ships the narrow
    // (q_id, b_id, sim) projection, not embedding arrays. Within ONE
    // table no dup is possible even under multiprobe: the probe
    // buckets are pairwise distinct and a base row holds one bucket
    val scored = if (tables == 1) scored0 else scored0.dropDuplicates("q_id", "b_id")
    topkPerQuery(scored, k)
  }

  /** Discount weights 1/log₂(i+1) for ranks 1..k. Computed ONCE here
    * and embedded as shortest-round-trip double LITERALS on both
    * engines ([[ndcgAtK]] via `lit`, the v24 oracle via `toString` —
    * Scala's Double formatting round-trips, and DuckDB parses a
    * decimal literal to the nearest double, i.e. the same bits), so
    * no engine ever CALLS log2 — libm and the JVM disagree in the
    * last ulp on non-power-of-two arguments.
    */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Prefix sums of [[ndcgDiscounts]] — `idcgTable(k)(i-1)` is the
    * ideal DCG of a query whose exact top-k holds i entries. Strict
    * left fold in Scala, computed ONCE and embedded as literals on
    * both engines (same shortest-round-trip discipline as the
    * discounts themselves), so per-query IDCG is a table LOOKUP, not
    * a runtime float sum.
    */
  def idcgTable(k: Int): Seq[Double] =
    ndcgDiscounts(k).scanLeft(0.0)(_ + _).tail

  /** NDCG@k of an approximate ranking against an exact one — the
    * ranking-quality eval run after every ANN index build (recall says
    * WHETHER the true neighbors surfaced, NDCG says WHERE). Both
    * inputs are (q_id, b_id, rank) frames (any extra columns ignored);
    * relevance is binary membership in the exact top-k.
    *
    * IDCG is PER QUERY: the sum of the first `|exact top-k|` discounts
    * ([[idcgTable]]) — standard NDCG normalizes by the ideal DCG over
    * min(|relevant|, k) positions, so a query whose exact list holds
    * fewer than k entries (small base corpus, NaN-filtered candidates)
    * can still reach ndcg = 1.0 when the approximate ranking is
    * perfect. A constant Σ over all k discounts would bias cross-query
    * comparisons whenever exact sizes differ.
    *
    * Output: one row per query in `exact` — (q_id, hits, ndcg); a
    * query the approximate ranking missed entirely scores (0, 0.0).
    *
    * Determinism: DCG is a FOLD over the ascending hit ranks against
    * the literal discount table ([[ndcgDiscounts]]) — never a float
    * group-sum, whose order the shuffle would own — and the per-query
    * IDCG divisor is a literal-table lookup. One equi-join on
    * (q_id, b_id) + one query-keyed rollup; at 10⁹ queries everything
    * shuffles on the query key.
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    val ws = ndcgDiscounts(k)
    val wArr = array(ws.map(lit): _*)
    val pArr = array(idcgTable(k).map(lit): _*)
    val ex = exact.filter(col("rank") <= k).select(col("q_id"), col("b_id"))
    val ap = approx.filter(col("rank") <= k)
      .select(col("q_id"), col("b_id"), col("rank"))
    val perQ = ap.join(ex, Seq("q_id", "b_id"))
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("hits"),
        sort_array(collect_list(col("rank"))).as("rs"))
    // the same rollup that sizes each query's exact list also keys the
    // left join — no extra shuffle vs the old distinct()
    ex.groupBy("q_id").agg(count(lit(1)).as("n_ex"))
      .join(perQ, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(
          aggregate(col("rs"), lit(0.0),
            (acc, r) => acc + element_at(wArr, r.cast("int"))),
          // least() clamps the IDCG lookup to the k-entry table: the
          // input contract says (q_id, b_id) is unique in `exact`, but
          // duplicate pairs would push n_ex past k and element_at
          // would return null (ANSI off) or throw (ANSI on) — an
          // out-of-contract input must degrade, not corrupt the column
          lit(0.0)) / element_at(pArr, least(col("n_ex"), lit(k.toLong)).cast("int"))).as("ndcg"))
  }
}
