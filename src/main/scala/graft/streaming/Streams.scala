package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured-Streaming re-expression of the reference's operational
  * plane (SURVEY.md §2.9): event ingest, periodic metrics windows,
  * threshold alerts, bounded retention, and duplicate suppression.
  *
  * Every transform here works identically on a batch DataFrame and a
  * streaming one — the batch twin is what the oracle gate checks
  * (graft.queries.EventQueries); the streaming semantics (watermarks,
  * update modes) are exercised in StreamingSpec with MemoryStream.
  *
  * Reference behaviors: event stream append + last-1000 retention
  * (/root/reference/src/monitoring.py:153-158), 30 s metrics sampling
  * (:189-207), threshold alerts (:209-253).
  */
object Streams {

  /** Continuous tool-report ingest (ST6 over the audit plane): watch a
    * drop directory for new report files and run any line-based parser
    * (e.g. `ToolParsers.clamav`, `Parsers.avLogFindings`) over each
    * micro-batch. Identical transform in batch and streaming — the file
    * source replaces the reference's poll-rescan loop, exactly-once per
    * file, no driver state.
    */
  def reportStream(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      parser: DataFrame => DataFrame): DataFrame =
    parser(spark.readStream.text(dir))

  /** Streaming exact content dedup: the d01 fingerprint dedup as a
    * stream — normalized-text md5 as the dedup key, state bounded by
    * the watermark horizon (a duplicate arriving later than the
    * watermark delay is passed through; exactness within the horizon,
    * bounded state — the only tenable trade at an unbounded stream's
    * scale).
    */
  def dedupByContent(
      df: DataFrame, tsCol: String, textCol: String,
      watermark: String = "10 minutes"): DataFrame = {
    requireNoScratchCols(df, Set("__fp"), "dedupByContent")
    val withFp = df
      .withColumn("__fp", graft.functions.Text.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
    // null-text rows PASS THROUGH: dropDuplicatesWithinWatermark keys
    // state on the null fingerprint as an equal value, which would
    // collapse every null-text row per horizon into one — but null
    // texts are NOT duplicates of each other (the exactKeepFirst /
    // dedupGate convention)
    withFp.filter(col("__fp").isNotNull)
      .dropDuplicatesWithinWatermark("__fp")
      .unionByName(withFp.filter(col("__fp").isNull))
      .drop("__fp")
  }

  /** Tumbling-window per-type stats — the streaming twin of the
    * reference's fixed-interval metrics sampler. `tsCol` must be a
    * TimestampType column; watermarking bounds state (ST7 — strictly
    * stronger than the reference's unbounded in-memory list).
    *
    * `sum_value` sums raw doubles (the reference's semantics): exact up
    * to summation order, which partial aggregation does not fix across
    * runs. Pipelines needing bit-reproducible money totals route the
    * value through integer cents (graft.functions.Money) first — the
    * convention every oracle-gated batch twin follows.
    */
  def windowedStats(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      valueCol: String,
      window: String = "30 seconds",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col(tsCol), window).as("win"),
        col(typeCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .select(
        col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col(typeCol), col("n"), col("sum_value"), col("min_value"), col("max_value"))

  /** Windowed distinct-count HLL sketch — the streaming twin of
    * [[graft.queries.EventQueries.e15WindowDistinct]]. The register
    * array ([[graft.operators.Sketches.hllAgg]]) IS the streaming
    * state: 2^p ints per open window no matter the event volume or key
    * cardinality (exact windowed COUNT(DISTINCT) state grows with
    * cardinality — the thing that does NOT survive "unique users per
    * hour at 100 TB/day"). Register max is commutative, associative,
    * and idempotent, so batch parity needs NO event buffering, no
    * ordering discipline, and no watermark coupling — any arrival
    * order folds to the same registers bit-for-bit (contrast
    * [[EwmaStream]], whose order-sensitive fold must buffer to the
    * watermark to reach the same contract). StreamingSpec pins
    * register-level equality against the batch twin under out-of-order
    * delivery across multiple micro-batches.
    *
    * Output per closed window: window_start/end, n_events, regs —
    * feed [[graft.operators.Sketches.hllEstimate]] (rename regs' key)
    * or persist the registers as a sketch-lake increment and merge
    * downstream ([[graft.operators.Sketches.hllMergeSketches]]).
    */
  def windowDistinctSketch(
      events: DataFrame,
      tsCol: String,
      idCol: String,
      window: String = "1 hour",
      watermark: String = "10 minutes",
      p: Int = 6): DataFrame =
    events
      .filter(col(idCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window).as("win"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.operators.Sketches.hllAgg(p)(
          graft.functions.Hashing.h60(col(idCol).cast("string"))).as("regs"))
      .select(
        col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col("n_events"), col("regs"))

  /** Windowed quantile SAMPLE — the second semilattice-state streaming
    * sketch (see [[windowDistinctSketch]] for the algebra argument):
    * the bottom-k (h60(id), value) pair buffer
    * ([[graft.operators.Sketches.pairSampleAgg]]) is commutative,
    * associative, and idempotent over row-disjoint inputs, so any
    * arrival order and any micro-batch boundary fold to the same
    * sample bit-for-bit — batch parity without buffering. Contrast a
    * streaming MG heavy-hitter summary, which merges within its error
    * bound but whose pruned counters DIFFER by merge-tree shape: not
    * bit-replayable, so it stays a per-increment batch sketch (q24/
    * q26) rather than a streaming one. Feed closed windows to
    * [[graft.operators.Sketches.quantilesFromSample]] for the
    * estimates, or persist as sample-lake increments
    * ([[graft.operators.Sketches.mergePairSamples]]).
    *
    * Caller contract (the [[graft.operators.Sketches.pairSampleByKey]]
    * one): `idCol` unique per event, `valueCol` integer-valued (scale
    * money/floats first); null id/value rows are excluded like the
    * batch form.
    */
  def windowQuantileSample(
      events: DataFrame,
      tsCol: String,
      idCol: String,
      valueCol: String,
      window: String = "1 hour",
      watermark: String = "10 minutes",
      k: Int = 64): DataFrame = {
    // the batch form's loud type gate — shared owner, so the accepted
    // types cannot drift between the batch and streaming forms
    graft.operators.Sketches.requireIntegerMetric(
      events.select(col(valueCol)).schema.head.dataType)
    events
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window).as("win"))
      .agg(
        count(lit(1)).as("n"),
        graft.operators.Sketches.pairSampleAgg(k)(
          graft.functions.Hashing.h60(col(idCol).cast("string")),
          col(valueCol).cast("long")).as("pairs"))
      .select(
        col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col("n"), col("pairs"))
  }

  /** Threshold alerting with severity tiers (warning ≥ warn, critical ≥
    * crit) — works per-row, so identical in batch and streaming.
    */
  def alerts(df: DataFrame, valueCol: String, warn: Double, crit: Double): DataFrame =
    df.withColumn(
        "severity",
        when(col(valueCol) >= crit, "critical")
          .when(col(valueCol) >= warn, "warning"))
      .filter(col("severity").isNotNull)

  /** Exactly-once-per-id duplicate suppression within the watermark
    * horizon (ST7; reference has no dedup — in-order in-memory lists).
    * Uses dropDuplicatesWithinWatermark: plain dropDuplicates(id) would
    * keep one state entry per id FOREVER (the watermark only evicts
    * dedup state when the event-time column is part of the key).
    */
  def dedupEvents(df: DataFrame, tsCol: String, idCol: String, watermark: String = "10 minutes"): DataFrame = {
    val marked = df.withWatermark(tsCol, watermark)
    // null-id rows pass through: the dedup state would otherwise key
    // them all on one equal null value and keep a single survivor per
    // horizon — silently losing unique events an id-based policy
    // cannot arbitrate (the dedupGate convention)
    marked.filter(col(idCol).isNotNull)
      .dropDuplicatesWithinWatermark(Seq(idCol))
      .unionByName(marked.filter(col(idCol).isNull))
  }

  /** Streaming twin of the curation gate — the front half of the
    * training-data recipe (the t03 quality gate + token floor + the c04
    * deterministic sample-mix) as ONE operator that runs unchanged on a
    * batch frame or a stream: every stage is a pure narrow per-row
    * transform (no state, no watermark — membership is the
    * hash-threshold draw of [[graft.operators.Sampling]], not rand()),
    * so incremental corpus ingestion and the backfill run the SAME
    * recipe and select the SAME rows — the batch ≡ stream property
    * StreamingSpec pins on a MemoryStream. The stateful tails (exact
    * dedup, windowed rollups) have their own streaming forms
    * ([[dedupByContent]], [[windowedStats]]); this gate composes in
    * front of either.
    */
  def curationGate(
      docs: DataFrame, textCol: String, langCol: String, idCol: String,
      minQuality: Double = 0.6, minTokens: Int = 5,
      rates: Map[String, Double] = Map.empty, defaultRate: Double = 1.0,
      salt: String = "stream-mix"): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      docs.filter(
        graft.functions.Text.qualityScore(col(textCol)) >= minQuality &&
          graft.functions.Text.tokenCount(col(textCol)) >= minTokens),
      col(langCol), col(idCol), rates, defaultRate, salt)

  /** Incremental INDEX maintenance from a stream — the composition of
    * ST6's continuous ingest with the persisted-index add verbs: each
    * micro-batch is handed as a plain batch frame to an add closure
    * ([[graft.operators.Ann.addToIvfIndex]],
    * [[graft.operators.Pq.addToIvfPqIndex]],
    * [[graft.operators.Bm25.addToLexIndex]] — all take batch frames),
    * so "the corpus grows 1%/day" and "the corpus grows per
    * micro-batch" are the SAME code path, and batch-add ≡ build-all
    * equivalence (spec-pinned per verb) carries over to the stream.
    *
    * Delivery: foreachBatch is AT-LEAST-ONCE on failure recovery — a
    * replayed micro-batch would re-add its rows, and every add verb's
    * contract requires NEW ids. Pass `dedupe = Some((idCol,
    * currentIds))` and the ENGINE owns the exactly-once upgrade: each
    * micro-batch is anti-joined against the index's current ids
    * (re-read per batch, so earlier batches' adds are visible) before
    * the add verb — a replayed batch dedupes to empty and the index is
    * byte-identical (spec-pinned). `currentIds` is the index's id
    * surface, a NARROW id-only scan: [[graft.operators.Ann.indexIds]]
    * for the IVF/IVF-PQ lakes, [[graft.operators.Bm25.lexIndexIds]]
    * for the lexical index — cost ∝ one column of the index, paid per
    * micro-batch, the standard price of idempotence without a
    * transactional sink. Without `dedupe` the caveat stands as before:
    * replays are rare (only the in-flight batch at a crash) and the
    * remove verb is the repair.
    */
  def indexIngest(
      stream: DataFrame, checkpoint: String,
      add: DataFrame => Unit,
      dedupe: Option[(String, () => DataFrame)] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        dedupe match {
          case Some((idCol, currentIds)) =>
            // two dup sources, two guards: dropDuplicates kills an id
            // delivered twice WITHIN one micro-batch (an id-keyed
            // stream means any instance is the same doc — the add
            // verbs' NEW-ids contract would reject the batch
            // otherwise); the anti-join against the index's id
            // surface (a ONE-column frame under the index's own name
            // — b_id, doc_id, … — aligned so callers never
            // hand-rename) kills the cross-batch replay.
            // The anti-join SCANS THE INDEX id surface — persist the
            // result so the emptiness probe and the add verb's
            // (multiple) actions evaluate that scan once per batch,
            // not once per action
            val fresh = batch.dropDuplicates(idCol)
              .join(currentIds().toDF(idCol), Seq(idCol), "left_anti")
              .persist()
            try {
              // efficiency skip AND the replay guard's no-op path: an
              // empty add would still pay a sidecar read + two-rename
              // rewrite per fully-deduped replay — skip the churn
              if (!fresh.isEmpty) add(fresh)
            } finally fresh.unpersist()
          case None =>
            val b = batch.toDF()
            // same skip for idle triggers; the local micro-batch probe
            // is cheap (no index scan involved)
            if (!b.isEmpty) add(b)
        }
      }
      .start()

  /** Sketch-LAKE ingest from a stream — [[indexIngest]]'s
    * foreachBatch-increment pattern for the sketch lakes: each
    * micro-batch of CLOSED sketch windows (the append-mode output of
    * [[windowDistinctSketch]] / [[windowQuantileSample]], projected to
    * the lake's row shape by the caller) is appended to the lake at
    * `lakePath`. The matching compaction verb
    * ([[graft.operators.Sketches.compactHllLake]] /
    * [[graft.operators.Sketches.compactSampleLake]]) heals the
    * one-file-per-micro-batch decay offline, and the lake then merges
    * and estimates exactly like its batch-written twin — semilattice
    * state means streamed increments ≡ batch one-shot bit-for-bit
    * (StreamingSpec pins the full stream → lake → compact → estimate
    * path against the one-shot).
    *
    * Delivery: foreachBatch is AT-LEAST-ONCE on failure recovery, and
    * a replayed append would duplicate an increment — idempotent for
    * HLL registers (element-wise max) but NOT for pair samples (a
    * duplicated (h, v) pair occupies two bottom-k slots) or any row
    * carrying an exact `n`. The ENGINE owns the exactly-once upgrade
    * the same way [[indexIngest]]'s `dedupe` leg does: every batch
    * anti-joins on `keyCols` against the lake's current key surface (a
    * narrow column-pruned scan, re-read per batch so earlier appends
    * are visible). Append-mode windows emit each window key exactly
    * once in a query's lifetime, so a replayed batch — or a full
    * checkpoint-recreate re-run over the same source — dedupes to
    * empty and the lake converges byte-identical. Appends refuse a
    * parked crashed-compaction sibling (the serving-path rule): a
    * blind append would recreate the root and cement the parked
    * tree's loss.
    */
  def sketchIngest(
      windows: DataFrame, checkpoint: String, lakePath: String,
      keyCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "sketchIngest needs at least one key column")
    windows.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val spark = b.sparkSession
        val root = new org.apache.hadoop.fs.Path(lakePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.etl.Compact.requireServable(
          fs, root, action = "appending sketch-lake increments")
        val existing =
          if (!fs.exists(root)) None
          else
            try Some(spark.read.parquet(lakePath).select(keyCols.map(col): _*))
            catch {
              // only crashed-append `_temporary` residue reads as "no
              // prior increments"; anything else throws (the ledgerScan
              // posture — silently ignoring history would double-append)
              case e: org.apache.spark.sql.AnalysisException
                  if graft.etl.Compact.emptyLakeRead(e) => None
            }
        val fresh0 = existing match {
          case Some(keys) => b.join(keys, keyCols, "left_anti")
          case None => b
        }
        // FULL one-pass materialization via count(), not isEmpty:
        // unlike every other gate in this file, this foreachBatch sits
        // downstream of a STATEFUL aggregation (the windowed sketch),
        // and the batch frame re-executes that plan on each action.
        // isEmpty is take(1) — a PARTIAL materialization that leaves
        // uncached partitions for the write to recompute, and a
        // recomputed stateful task re-commits its state store, which
        // Spark refuses (CANNOT_WRITE_STATE_STORE, measured under
        // suite load). count() touches every partition once under the
        // persist, so the append reads only cached blocks.
        val fresh = fresh0.persist()
        try {
          if (fresh.count() > 0L) fresh.write.mode("append").parquet(lakePath)
        } finally fresh.unpersist()
      }
      .start()
  }

  /** Streaming exact dedup against a PERSISTED fingerprint ledger —
    * the unbounded-history complement of [[dedupByContent]] (whose
    * watermark bounds state: duplicates farther apart than the horizon
    * survive it). Here every micro-batch (1) keeps the lowest-id row
    * per content fingerprint within the batch, (2) anti-joins the
    * survivors against the ledger at `ledgerPath` (every fingerprint
    * ever emitted), (3) hands genuinely-new rows to `emit`, and (4)
    * appends their fingerprints to the ledger — so a document seen
    * LAST MONTH still suppresses today's copy, the cross-day dedup a
    * training pipeline actually needs. The ledger is bucketed by
    * fingerprint prefix ([[ledgerScan]]), so a batch reads only the
    * bucket dirs its own fingerprints touch — per-batch ledger IO is
    * proportional to the BATCH's fingerprint spread, not to all of
    * history (the O(corpus)-per-batch read was the one genuine 100 TB
    * soft spot in this gate).
    *
    * Delivery: emit-THEN-append, so recovery is AT-LEAST-ONCE on the
    * emit side (a crash between the two replays the batch and re-emits
    * — fingerprints land in the ledger exactly once either way;
    * append-then-emit would instead LOSE the batch on replay).
    * Downstream exactly-once composes the same way as everywhere else:
    * an id-keyed sink dedups the re-emit
    * ([[indexIngest]]'s `dedupe`). Null-text rows carry no
    * fingerprint and pass through untouched (not duplicates of each
    * other — the [[graft.operators.Dedup.exactKeepFirst]] convention);
    * null-ID rows pass through too (the keep-first policy is id-based
    * and cannot arbitrate them — passing beats silently losing unique
    * content). Exact (id, text) row copies within one micro-batch
    * collapse to a single row before any of this.
    */
  def dedupGate(
      stream: DataFrame, checkpoint: String, ledgerPath: String,
      idCol: String, textCol: String,
      emit: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    requireNoScratchCols(stream, Set("__fp"), "dedupGate")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val withFp = batch.toDF()
          .withColumn("__fp", graft.functions.Text.fingerprint(col(textCol)))
          // copies of the same (fingerprint, id) pair collapse here,
          // before the keep-first — a source redelivery in ONE batch,
          // or two raw texts normalizing to the same fingerprint under
          // one id, would otherwise BOTH survive the (fp, min-id)
          // semi-join and double-emit/double-ledger. Keyed on the
          // FINGERPRINT, not the raw text, because the keep-first is.
          .dropDuplicates(Seq("__fp", idCol))
        // rows the id-based keep-first cannot arbitrate pass THROUGH
        // (never deduped, never ledgered, like the null-text rows): the
        // keep-first contract is id-based, and silently dropping a
        // null-id row would lose unique content
        val passThrough = withFp
          .filter(col("__fp").isNull || col(idCol).isNull).drop("__fp")
        // keep-first within the batch: groupBy-min + join back (the
        // repo's no-Window dedup shape), deterministic on the id
        val dedupable = withFp.filter(col("__fp").isNotNull && col(idCol).isNotNull)
        val firsts = dedupable.groupBy("__fp").agg(min(col(idCol)).as(idCol))
        val inBatch = dedupable.join(firsts, Seq("__fp", idCol), "left_semi")
        // the ledger is BUCKETED by fingerprint prefix (bucket =
        // first two hex chars, 256 fixed buckets — derived from the
        // fp itself, so the layout can never drift on a config
        // change): each batch reads ONLY the bucket dirs its own
        // fingerprints touch, so per-batch ledger IO is
        // |touched buckets|/256 of history instead of ALL of it —
        // the difference between O(batch) and O(corpus) reads per
        // batch at 100 TB. The touched-prefix list is bounded
        // driver-side (≤ min(batch distinct fps, 256) — the same
        // boundedness contract as the lex query's bucket list).
        val touched = dedupable.select(substring(col("__fp"), 1, 2).as("b"))
          .distinct().collect().map(_.getString(0)).toSeq
        val ledger = ledgerScan(spark, ledgerPath, touched)
        val fresh0 = ledger match {
          case Some(l) => inBatch.join(l, Seq("__fp"), "left_anti")
          case None => inBatch
        }
        // one evaluation of the ledger anti-join for the emptiness
        // probe, the emit, and the ledger append (same discipline as
        // indexIngest's dedupe leg)
        val fresh = fresh0.persist()
        try {
          val emitted = fresh.drop("__fp").unionByName(passThrough)
          if (!emitted.isEmpty) emit(emitted)
          if (!fresh.isEmpty)
            fresh.select(col("__fp").as("fp"))
              .withColumn("bucket", substring(col("fp"), 1, 2))
              .write.partitionBy("bucket").mode("append").parquet(ledgerPath)
        } finally fresh.unpersist()
      }
      .start()
  }

  /** Refuse input columns that collide with a gate's scratch names —
    * the assignSplits/capPerStratum refuse-don't-clobber convention:
    * withColumn would silently REPLACE a user column (a stream whose
    * events already carry `batch` or `__fp` is routine), and the
    * replaced values would be consumed as gate internals while the
    * user's data vanished from the sink with no error.
    */
  private def requireNoScratchCols(
      df: DataFrame, scratch: Set[String], verb: String): Unit = {
    val clash = df.columns.toSet.intersect(scratch)
    require(clash.isEmpty,
      s"input column(s) collide with $verb scratch names: " +
        s"${clash.toSeq.sorted.mkString(", ")} -- rename them first")
  }

  /** Streaming NEAR-duplicate suppression against a persisted MinHash
    * band ledger — the LSH complement of [[dedupGate]]'s exact
    * fingerprints, for the "dedupe today's crawl against every page
    * ever seen" shape where byte-identity is too strict.
    *
    * Per micro-batch: MinHash signatures
    * ([[graft.operators.Dedup.minhashSignatures]], the SAME arithmetic
    * as the batch operator — stream and batch agree bit-for-bit on who
    * collides), banded LSH keys, then
    *
    *  1. CROSS-BATCH: batch band keys equi-join the postings ledger →
    *     candidate (new, old) pairs; each pair is verified by the
    *     MinHash AGREEMENT estimate (matching signature slots / k, the
    *     unbiased Jaccard estimator) ≥ `minJaccard` against the old
    *     doc's ledgered signature. History text is gone — the
    *     signature is what a 100 TB pipeline can afford to keep — so
    *     cross-batch verification is the estimator, not exact Jaccard
    *     (±1/√k per pair; raise k to tighten). Documents verified
    *     near-dup of history are suppressed.
    *  2. IN-BATCH: survivors near-dup-pair each other through the full
    *     EXACT-verify batch operator ([[graft.operators.Dedup.minhashPairs]]
    *     → [[graft.operators.Dedup.groupPairs]]) and keep the minimum
    *     id per component — texts are at hand inside one batch, so no
    *     estimator is needed.
    *
    * Ledger layout — TWO bucketed lakes under `ledgerPath`, each read
    * bounded per batch:
    * `postings/bucket=<2-hex md5(band) prefix>`: (band, oid) — a batch
    * reads ONLY the bucket dirs its own band keys hash into;
    * `sigs/bucket=<2-hex md5(id) prefix>`: (oid, sig) — the signature
    * is stored ONCE per document (k longs, not k longs × bands), and
    * only the CANDIDATES' id-buckets are read. Both touched lists are
    * driver-bounded (≤ 256 each). Per-batch file decay is cured by
    * [[compactLedger]] over each sub-lake
    * (`compactLedger(spark, s"$path/postings")`), and both serving
    * reads refuse a parked crashed-compaction tree.
    *
    * Delivery is at-least-once (emit-then-append, [[dedupGate]]'s
    * choice and reasoning); replays re-emit but never double-ledger a
    * signature under a different id. Rows that cannot carry a
    * signature — null id, null text, or no tokens — pass through
    * un-deduped and un-ledgered, the [[dedupGate]] null contract.
    * Exact (id, text) row copies inside one batch collapse first.
    */
  def neardupGate(
      stream: DataFrame, checkpoint: String, ledgerPath: String,
      idCol: String, textCol: String,
      emit: DataFrame => Unit,
      n: Int = 3, k: Int = 64, rowsPerBand: Int = 2,
      minJaccard: Double = 0.4): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        neardupBatch(batch.toDF(), ledgerPath, idCol, textCol, emit,
          n, k, rowsPerBand, minJaccard)
      }
      .start()

  /** One micro-batch of [[neardupGate]] — package-visible so the spec
    * can drive batch-twin parity without forging checkpoint state.
    */
  private[graft] def neardupBatch(
      batchDf: DataFrame, ledgerPath: String, idCol: String, textCol: String,
      emit: DataFrame => Unit,
      n: Int, k: Int, rowsPerBand: Int, minJaccard: Double): Unit =
      // scoped: minhashPairs/groupPairs register their cached
      // intermediates for unpersist-on-exit — without this a
      // long-running stream leaks block-manager entries per batch
      graft.operators.Dedup.scoped {
    val spark = batchDf.sparkSession
    val df = batchDf.dropDuplicates(Seq(idCol, textCol))
    // one signature row per (id, text); null/tokenless rows yield none
    val sigs = graft.operators.Dedup.minhashSignatures(
      df, col(idCol), col(textCol), n, k)
      .filter(col("doc_id").isNotNull)
      .persist()
    try {
      val bands = sigs.select(
        col("doc_id"),
        explode(graft.functions.Hashing.minhashBands(col("sig"), k, rowsPerBand)).as("band"))
        .withColumn("bucket", substring(md5(col("band")), 1, 2))
        .persist()
      try {
        val touched = bands.select("bucket").distinct()
          .collect().map(_.getString(0)).toSeq
        val emptyIds = sigs.select("doc_id").limit(0)
        val histDup = neardupPostingsScan(spark, ledgerPath, touched) match {
          case Some(p) =>
            val cand = bands.join(p, "band")
              .select(col("doc_id"), col("__old_id")).distinct()
            // candidate old ids → their sig buckets (driver list ≤ 256)
            val oldBuckets = cand
              .select(substring(md5(col("__old_id")), 1, 2).as("b")).distinct()
              .collect().map(_.getString(0)).toSeq
            neardupSigsScan(spark, ledgerPath, oldBuckets) match {
              case Some(os) =>
                // signature-width gate (the hllMergeSketches posture):
                // a ledger built at a DIFFERENT k would zip_with
                // null-padded slots that filter() drops, silently
                // halving every agreement estimate — history
                // duplicates would re-emit with no error. Fail by
                // name; the guard rides the consumed width term.
                val widthOk = coalesce(
                  assert_true(size(col("__old_sig")) === k,
                    concat(lit("neardupGate: ledgered signature of "),
                      size(col("__old_sig")).cast("string"),
                      lit(s" slots but the stream runs k=$k -- the " +
                        "ledger was built at a different k; keep k " +
                        "stable for a ledger's lifetime"))).cast("int"),
                  lit(0))
                cand.join(sigs, "doc_id").join(os, "__old_id")
                  .withColumn("__agree",
                    (size(filter(
                      zip_with(col("sig"), col("__old_sig"), (a, b) => a === b),
                      x => x)) + widthOk).cast("double") / lit(k.toDouble))
                  .filter(col("__agree") >= lit(minJaccard))
                  .select("doc_id").distinct()
              // postings exist but the sigs lake is missing/empty: a
              // half-written ledger — treat candidates as unverifiable
              // and pass them (never silently drop on missing evidence)
              case None => emptyIds
            }
          case None => emptyIds
        }
        // pool = rows that carry a signature, minus history near-dups
        val sigIds = sigs.select(col("doc_id").as(idCol)).distinct()
        val pooled = df
          .join(sigIds, Seq(idCol), "left_semi")
          .join(histDup.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
        // in-batch: exact-verify pairs → components → keep min id
        val pairs = graft.operators.Dedup.minhashPairs(
          pooled, col(idCol), col(textCol), n, k, rowsPerBand, minJaccard)
        val dropped = graft.operators.Dedup.groupPairs(pairs.select("d1", "d2"))
          .filter(col("doc_id") =!= col("group_id"))
          .select(col("doc_id").as(idCol))
        val fresh = pooled.join(dropped, Seq(idCol), "left_anti").persist()
        try {
          // null-id / null-text / tokenless rows pass through untouched
          val passThrough = df.join(sigIds, Seq(idCol), "left_anti")
          val emitted = fresh.unionByName(passThrough)
          if (!emitted.isEmpty) emit(emitted)
          if (!fresh.isEmpty) {
            val freshIds = fresh.select(col(idCol).as("doc_id")).distinct()
            bands.join(freshIds, Seq("doc_id"), "left_semi")
              .select(col("band"), col("doc_id").cast("string").as("oid"), col("bucket"))
              .write.partitionBy("bucket").mode("append")
              .parquet(s"$ledgerPath/postings")
            sigs.join(freshIds, Seq("doc_id"), "left_semi")
              .select(
                col("doc_id").cast("string").as("oid"), col("sig"),
                substring(md5(col("doc_id").cast("string")), 1, 2).as("bucket"))
              .write.partitionBy("bucket").mode("append")
              .parquet(s"$ledgerPath/sigs")
          }
        } finally fresh.unpersist()
      } finally bands.unpersist()
    } finally sigs.unpersist()
  } // Dedup.scoped

  /** Touched-bucket scan of the near-dup POSTINGS lake → (band,
    * __old_id), or None when no prior postings exist. Same pruning,
    * same parked-tree refusal, same explicit-schema robustness as
    * [[ledgerScan]].
    */
  private[graft] def neardupPostingsScan(
      spark: org.apache.spark.sql.SparkSession, ledgerPath: String,
      touched: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    neardupLakeScan(spark, s"$ledgerPath/postings", touched,
      StructType(Seq(
        StructField("band", StringType), StructField("oid", StringType),
        StructField("bucket", StringType))))
      .map(_.select(col("band"), col("oid").as("__old_id")))
  }

  /** Touched-bucket scan of the near-dup SIGNATURE lake → (__old_id,
    * __old_sig), or None when absent.
    */
  private[graft] def neardupSigsScan(
      spark: org.apache.spark.sql.SparkSession, ledgerPath: String,
      touched: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
    neardupLakeScan(spark, s"$ledgerPath/sigs", touched,
      StructType(Seq(
        StructField("oid", StringType), StructField("sig", ArrayType(LongType)),
        StructField("bucket", StringType))))
      .map(_.select(col("oid").as("__old_id"), col("sig").as("__old_sig")))
  }

  private def neardupLakeScan(
      spark: org.apache.spark.sql.SparkSession, root: String,
      touched: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a parked `__compact_old` sibling may hold a bucket's only copy —
    // reading around it would re-emit suppressed near-duplicates
    graft.etl.Compact.requireServable(
      fs, rootPath, action = "reading or mutating the near-dup ledger")
    if (!fs.exists(rootPath)) return None
    val bucketDirs = touched.map(b => s"$root/bucket=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (bucketDirs.isEmpty) return None
    try Some(
      spark.read.schema(schema).option("basePath", root).parquet(bucketDirs: _*))
    catch {
      // ONLY crashed-append `_temporary`-residue emptiness; anything
      // else (renamed columns, corrupt footers) must throw, not
      // silently discard suppression history
      case e: org.apache.spark.sql.AnalysisException
          if graft.etl.Compact.emptyLakeRead(e) => None
    }
  }

  /** EXACTLY-ONCE composition of [[dedupGate]] — the documented
    * "id-keyed sink dedups the re-emit" recipe shipped as a verb, for
    * sinks that are plain parquet lakes with no key to dedup on.
    * Instead of an arbitrary `emit` callback (whose delivery can never
    * be better than at-least-once — the gate cannot transact a crash
    * window it doesn't own), this verb OWNS the sink and makes every
    * step of the micro-batch idempotent on replay, keyed by the pair
    * (CHECKPOINT RUN ID, batchId) — same pair ⇒ same redelivered data
    * from a replayable source:
    *
    *  1. a COMMIT MARKER (`<ledger>/_batches/<runId>-<id>`, written
    *     last) short-circuits a replay of a fully-processed batch;
    *     markers far behind the current id are retired (Spark only
    *     replays the last uncommitted batch, and one file per batch
    *     forever is the classic small-files decay);
    *  2. the sink write is a dynamic-partition OVERWRITE of
    *     `batch=<runId>-<id>` — a re-run rewrites its own partition,
    *     never duplicates it (the `batch` column doubles as the audit
    *     trail of the transactional unit);
    *  3. the ledger append tags rows with `batch_tag` = the same pair,
    *     and the suppression anti-join EXCLUDES rows tagged with the
    *     CURRENT pair — a crashed attempt's own half-landed
    *     fingerprints can never suppress the replay's emit (the
    *     append-before-emit loss window closed structurally);
    *  4. the append itself skips fingerprints already tagged with this
    *     pair, so the ledger converges to ONE row per (fp) however
    *     many times the batch replays.
    *
    * WHY the run id (from the checkpoint's own metadata UUID, minted
    * when the checkpoint is CREATED): a bare batchId is only unique
    * within one checkpoint lifetime. Delete-and-recreate the
    * checkpoint (a routine recovery move) and Spark restarts ids at 0
    * — bare-id markers from the previous life would silently SKIP the
    * new run's first batches (data loss), and its sink overwrites
    * would CLOBBER the old run's partitions. Scoping every marker,
    * tag, and sink partition by the run id makes a new checkpoint a
    * new namespace: its batches process normally (the LEDGER still
    * suppresses all previously-seen fingerprints — cross-run dedup is
    * the ledger's job, not the marker's) and no partition collides.
    *
    * Crash in ANY window ⇒ the replay converges on the same sink
    * row-set and the same ledger fingerprint-set, nothing emitted
    * twice, nothing lost (spec-pinned window by window). A ledger
    * previously written by [[dedupGate]] interoperates: its rows carry
    * no `batch_tag` (read as null ⇒ never self-excluded ⇒ genuine
    * history, correctly suppressing). All of [[dedupGate]]'s dedup
    * semantics (keep-lowest-id, null pass-through, bucketed ledger
    * reads) are inherited verbatim.
    */
  def dedupGateExactlyOnce(
      stream: DataFrame, checkpoint: String, ledgerPath: String,
      sinkPath: String, idCol: String, textCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireNoScratchCols(stream, Set("__fp", "batch"), "dedupGateExactlyOnce")
    // read lazily on the first batch: the metadata file exists once the
    // query has started, and is stable for the checkpoint's lifetime
    @volatile var runId: String = null
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (runId == null) runId = streamingRunId(batch.sparkSession, checkpoint)
        exactlyOnceBatch(batch.toDF(), runId, batchId, ledgerPath, sinkPath, idCol, textCol)
      }
      .start()
  }

  /** The checkpoint's run identity: the query UUID Spark writes to
    * `<checkpoint>/metadata` when the checkpoint directory is CREATED
    * (stable across restarts of the same checkpoint; fresh when the
    * checkpoint is recreated) — exactly the namespace the exactly-once
    * markers need. Fails loudly on a missing/odd metadata file rather
    * than guessing a namespace.
    */
  private[graft] def streamingRunId(
      spark: org.apache.spark.sql.SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$checkpoint/metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$p missing -- not a started streaming checkpoint; cannot derive a run id")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    org.json4s.jackson.JsonMethods.parse(txt) \ "id" match {
      case org.json4s.JString(id) if id.nonEmpty => id
      case other => throw new IllegalArgumentException(
        s"$p carries no query id (got $other) -- cannot derive a run id")
    }
  }

  /** One micro-batch of [[dedupGateExactlyOnce]] — package-visible so
    * the crash-replay spec can re-run a (runId, batchId) pair against
    * every crash window without forging checkpoint state.
    */
  private[graft] def exactlyOnceBatch(
      batchDf: DataFrame, runId: String, batchId: Long, ledgerPath: String,
      sinkPath: String, idCol: String, textCol: String,
      markerRetention: Int = 100): Unit = {
    require(runId != null && runId.nonEmpty && !runId.contains("/"),
      s"runId must be a non-empty path-safe token, got '$runId'")
    require(markerRetention >= 1, s"markerRetention must be >= 1, got $markerRetention")
    requireNoScratchCols(batchDf, Set("__fp", "batch"), "dedupGateExactlyOnce")
    val tag = s"$runId-$batchId"
    val spark = batchDf.sparkSession
    val fs = new org.apache.hadoop.fs.Path(ledgerPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$ledgerPath/_batches/$tag")
    if (fs.exists(marker)) return // fully processed — replay is a no-op
    val withFp = batchDf
      .withColumn("__fp", graft.functions.Text.fingerprint(col(textCol)))
      .dropDuplicates(Seq("__fp", idCol))
    val passThrough = withFp
      .filter(col("__fp").isNull || col(idCol).isNull).drop("__fp")
    val dedupable = withFp.filter(col("__fp").isNotNull && col(idCol).isNotNull)
    val firsts = dedupable.groupBy("__fp").agg(min(col(idCol)).as(idCol))
    val inBatch = dedupable.join(firsts, Seq("__fp", idCol), "left_semi")
    val touched = dedupable.select(substring(col("__fp"), 1, 2).as("b"))
      .distinct().collect().map(_.getString(0)).toSeq
    val ledger = ledgerScan(spark, ledgerPath, touched, withBatchTag = true)
    // self-exclusion: rows this (runId, batchId) pair itself
    // half-landed before a crash are NOT prior history — without this,
    // a crash between append and sink-write would silently swallow the
    // whole batch on replay (the loss window the at-least-once gate
    // avoids by emit-first ordering). Rows tagged by OTHER runs and
    // untagged dedupGate-era rows both suppress (genuine history).
    val fresh0 = ledger match {
      case Some(l) =>
        inBatch.join(
          l.filter(col("__batch_tag").isNull || col("__batch_tag") =!= tag)
            .select("__fp"),
          Seq("__fp"), "left_anti")
      case None => inBatch
    }
    val fresh = fresh0.persist()
    try {
      // sink first (overwrite of THIS batch's partition — idempotent),
      // then ledger, then marker: a crash after the sink write replays
      // into an overwrite of the same rows, a crash after the append
      // replays into a skipped append, and only the marker's creation
      // commits the batch
      val emitted = fresh.drop("__fp").unionByName(passThrough)
        .withColumn("batch", lit(tag))
      emitted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(sinkPath)
      if (!fresh.isEmpty) {
        val mine = ledger
          .map(_.filter(col("__batch_tag") === tag).select("__fp"))
        val toAppend = mine match {
          case Some(m) => fresh.select("__fp").join(m, Seq("__fp"), "left_anti")
          case None => fresh.select("__fp")
        }
        toAppend.select(col("__fp").as("fp"))
          .withColumn("batch_tag", lit(tag))
          .withColumn("bucket", substring(col("fp"), 1, 2))
          .write.partitionBy("bucket").mode("append").parquet(ledgerPath)
      }
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      // MARKER RETENTION: one tiny file per micro-batch is the classic
      // small-files decay (a 1-batch/min stream is ~500k files/year in
      // one dir). Spark only ever replays the LAST uncommitted batch,
      // so markers far behind the current id are dead weight — keep a
      // conservative window of this RUN's markers and drop the rest
      // (other runs' markers are untouched: their watermark is
      // unknowable here, and their own retention already bounded them)
      fs.listStatus(marker.getParent).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(runId + "-"))
          n.substring(runId.length + 1).toLongOption.foreach { b =>
            if (b < batchId - markerRetention) fs.delete(st.getPath, false)
          }
      }
    } finally fresh.unpersist()
  }

  /** The dedup ledger's pruned read: only the `bucket=<prefix>` dirs
    * in `touched` that EXIST are opened (explicit-subdir read — the
    * pruning is structural, not an optimizer promise), so batch cost
    * scales with the batch's fingerprint spread, never with ledger
    * history. Returns None when nothing relevant is on disk (absent
    * ledger, uncommitted `_temporary` residue from a crashed append,
    * or no touched bucket materialized yet — all legitimately "no
    * prior fingerprints").
    */
  private[graft] def ledgerScan(
      spark: org.apache.spark.sql.SparkSession, ledgerPath: String,
      touched: Seq[String], withBatchTag: Boolean = false): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a parked `<ledger>__*_old` sibling WITH FILES (a crashed
    // compactLedger leaf swap) may hold a bucket's ONLY copy; reading
    // the half-formed root as "no prior fingerprints" would re-emit
    // suppressed documents while the next append cements the loss by
    // recreating the bucket dir. Refuse loudly until recovered.
    graft.etl.Compact.requireServable(fs, root,
      action = "reading or mutating the dedup ledger")
    val bucketDirs = touched.map(b => s"$ledgerPath/bucket=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (bucketDirs.isEmpty) return None
    // withBatchTag (the exactly-once gate): read through an EXPLICIT
    // schema so files written by dedupGate — no batch_tag column —
    // surface null tags (genuine prior history, never self-excluded)
    // instead of failing schema inference on a mixed ledger
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val reader =
      if (!withBatchTag) spark.read
      else spark.read.schema(StructType(Seq(
        StructField("fp", StringType), StructField("batch_tag", StringType),
        StructField("bucket", StringType))))
    val cols =
      if (withBatchTag) Seq(col("fp").as("__fp"), col("batch_tag").as("__batch_tag"))
      else Seq(col("fp").as("__fp"))
    try Some(reader.option("basePath", ledgerPath).parquet(bucketDirs: _*).select(cols: _*))
    catch {
      // ONLY the zero-committed-file conditions a crashed append
      // leaves behind (bucket dir with `_temporary` residue only) —
      // any other analysis failure (fp column renamed, corrupt
      // footers) must THROW, not silently discard the dedup history
      // and mass-re-emit. Matched on the stable error condition
      // (single owner: Compact.emptyLakeRead).
      case e: org.apache.spark.sql.AnalysisException
          if graft.etl.Compact.emptyLakeRead(e) =>
        None
    }
  }

  /** Compact the dedup ledger's bucket dirs: every micro-batch appends
    * one file per touched bucket, so a long-lived stream decays each
    * `bucket=` dir into thousands of tiny files — the same decay (and
    * the same cure) as [[graft.operators.Bm25.compactLexIndex]],
    * delegating to [[graft.etl.Compact.compactPartitioned]] (only
    * fragmented buckets are rewritten, in one write outside the lake,
    * every bucket's footer row count gated before the first
    * park-then-swap, and the same refusal of a parked
    * `<ledger>__*_old` sibling that [[ledgerScan]] applies). Run while
    * the stream is STOPPED (the gate is the ledger's only writer).
    * Fingerprint content — and therefore dedup semantics — is
    * untouched.
    */
  def compactLedger(
      spark: org.apache.spark.sql.SparkSession, ledgerPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.etl.Compact.CompactStats)] =
    graft.etl.Compact.compactPartitioned(spark, ledgerPath, targetBytes)

  /** Stream-stream inner join within an event-time bound — correlate
    * two live streams (tool findings ↔ collector snapshots, clicks ↔
    * purchases) without landing either: right rows match a left row
    * with the same key when their timestamps sit within ± `joinWindow`.
    *
    * The watermarks + the RANGE CONDITION are what bound the join
    * state: Spark keeps a left row only until the right watermark
    * passes `leftTs + joinWindow` (and symmetrically), so state is
    * O(rate · (watermark + window)) — without the time bound the
    * buffers grow forever, which is why this wrapper refuses to build
    * an unbounded join. Both inputs must already carry DISTINCT column
    * names (the caller renames; a silent auto-rename would hide which
    * side a column came from).
    *
    * Scale: the join keys partition the state store exactly like a
    * batch shuffle join; a hot key concentrates state on one store —
    * the same salting discipline as batch applies if a key is known
    * hot. Inner only here: outer stream-stream joins emit nulls on
    * watermark expiry with subtle timing semantics, and nothing in the
    * reference needs them.
    */
  def correlateStreams(
      left: DataFrame, leftTs: String, leftKey: String,
      right: DataFrame, rightTs: String, rightKey: String,
      watermark: String = "10 minutes",
      joinWindow: String = "5 minutes"): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"left and right must have distinct column names; both have: ${overlap.toSeq.sorted.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $joinWindow") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $joinWindow"))
  }

  /** Batch form of "keep the last N" retention (ST2/T5) — a global
    * total-order last-N is inherently a batch/sink-side concept, the
    * one documented semantic difference from the reference.
    */
  def lastN(df: DataFrame, n: Int, orderCols: Seq[Column]): DataFrame =
    df.orderBy(orderCols: _*).limit(n)

  /** Time-based retention: keep rows younger than `maxAge` relative to
    * the data's own max timestamp (deterministic, no wall-clock).
    *
    * BATCH-ONLY like [[lastN]]: the global max + cross join is rejected
    * by Spark's streaming checker. On a live stream, retention is what
    * the WATERMARK does — windowed aggs ([[windowedStats]]) and dedup
    * state already evict beyond the horizon; sink-side retention runs
    * this function over the sink table between batches.
    */
  def retentionByAge(df: DataFrame, tsCol: String, maxAge: String): DataFrame = {
    val horizon = df.agg(max(col(tsCol)).as("mx"))
    df.crossJoin(broadcast(horizon))
      .filter(col(tsCol) >= col("mx") - expr(s"INTERVAL $maxAge"))
      .drop("mx")
  }
}
