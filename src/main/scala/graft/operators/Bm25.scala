package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.functions._

/** BM25 lexical top-k search — the sparse-retrieval complement to the
  * [[Ann]] family (a training-data pipeline needs BOTH: dense ANN for
  * semantic neighbors, lexical relevance for decontamination probes,
  * more-like-this expansion, and hybrid fusion — see [[Fusion]]).
  *
  * Shape, not a search server: one corpus scan builds query-vocabulary
  * postings (the inverted-index join), corpus statistics ride a
  * broadcast one-row frame, and the per-term BM25 contributions are
  * rounded to integer micro-units BEFORE the per-document sum — so the
  * grouped aggregation is order-independent (bit-stable under any
  * partitioning / AQE replan) and the DuckDB oracle can replay the
  * whole pipeline exactly. Top-k per query goes through the k-buffer
  * [[TopK]] aggregator (map-side partial top-k, shuffle ≤ k rows per
  * partition-group, no Window sort of the full candidate stream).
  *
  * Scale posture (100 TB corpus, query batch ≪ corpus):
  *  - ONE wide scan of the corpus (tokenize + explode); the explode is
  *    immediately semi-joined against the BROADCAST query vocabulary,
  *    so the postings shuffle carries only rows for terms someone
  *    asked about — ∝ matched postings, never ∝ corpus tokens.
  *  - document frequencies are counted by a window over that
  *    restricted hit stream, in the same pass that scores it.
  *  - the one-shot verbs collect nothing to the driver; corpus
  *    scalars (N, Σdl) are a 1-row agg joined in by broadcast. The
  *    index query verbs collect only the bounded query batch, once
  *    ([[QueryBatch]]), and carry the sidecar's scalars in it.
  *
  * Reference anchor: the reference's name/content search surface
  * (/root/reference/src/file_indexing_system.py:246-272) is exact
  * predicate match; ranked lexical relevance is part of the
  * LLM-pipeline mandate (curation/decontamination probes), scored with
  * the standard BM25 formulation (Robertson/Sparck Jones; the
  * ln(1 + (N-df+0.5)/(df+0.5)) idf is the Lucene-style positive form).
  */
object Bm25 {

  /** Analyzer: lowercase, maximal `[a-z0-9]+` runs. Deliberately the
    * simplest exactly-replayable analyzer (DuckDB twin:
    * `regexp_extract_all(lower(text), '[a-z0-9]+')` — see
    * [[graft.queries.SearchQueries]]); punctuation and unicode word
    * characters fall out, which is the right default for the synthetic
    * corpus and keeps the oracle byte-exact.
    */
  def analyze(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))), lit("[a-z0-9]+"), lit(0))

  /** Per-term BM25 contribution in integer micro-units. All operands
    * double, the expression TREE mirrored token-for-token by the oracle
    * SQL (IEEE ops are exactly rounded, so an identical tree is an
    * identical double; `ln` is the one libm call — boundary-safe after
    * the 1e6 rounding, verified empirically by the exact-compare gate).
    *
    * The `greatest(…, 0.5)` clamp on the idf numerator is the
    * SERVING-SIDE degradation guard for the documented
    * [[addToLexIndex]] crash window (stats understated → a term can
    * reach df > N): without it the idf goes NEGATIVE and a matching
    * term SUBTRACTS from scores — rankings invert until
    * [[rebuildLexStats]] runs. With it, df > N degrades to the
    * smallest positive idf (the df = N boundary value), so a stale
    * sidecar skews scores but never inverts them. On CONSISTENT stats
    * df ≤ N always, the numerator is ≥ 0.5 by construction, and the
    * clamp is the identity — oracle-neutral (the DuckDB CTE mirrors
    * the same GREATEST; both are exact IEEE max ops).
    */
  private def contribMicro(
      tf: Column, df: Column, dl: Column,
      nDocs: Column, totalTokens: Column, k1: Double, b: Double): Column = {
    val tfD = tf.cast("double")
    val dfD = df.cast("double")
    val dlD = dl.cast("double")
    val nD = nDocs.cast("double")
    val avgdl = totalTokens.cast("double") / nD
    val idf = log(lit(1.0) + greatest(nD - dfD + lit(0.5), lit(0.5)) / (dfD + lit(0.5)))
    val tfn = tfD * (lit(k1) + lit(1.0)) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dlD / avgdl))
    round(idf * tfn * lit(1000000.0)).cast("long")
  }

  /** Top-k BM25 search: `queries` is a (qId, qText) batch — each query
    * is analyzed to a DISTINCT term set (bag-of-words weight 1, the
    * short-query convention), scored against `docs`, and the k best
    * documents per query returned as
    * `(q_id, doc_id, rank, score_micro)` with rank 1-based by
    * (score desc, doc_id asc). Documents sharing no term with a query
    * do not appear; a query with k' < k matches returns k' rows.
    *
    * The query batch is assumed bounded (it rides broadcast joins —
    * the same contract as the ANN probe frames); the corpus side is
    * unbounded. Plan note: the corpus is tokenized TWICE (the stats agg
    * and the postings pass) — both are narrow single-column scans, and
    * the serving deployment avoids both per-query via
    * [[buildLexIndex]]/[[queryLexIndex]] (postings materialized once,
    * stats in a sidecar).
    */
  def searchTopK(
      docs: DataFrame, docId: Column, text: Column,
      queries: DataFrame, qId: Column, qText: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // corpus scalars as a broadcast 1-row frame — keeps the operator
    // fully lazy (no driver action) and re-usable under one cache scope
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))
    // inverted-index postings, restricted to the query vocabulary AT
    // THE SCAN: the broadcast semi-join fires before the groupBy, so
    // only matched (term, doc) pairs ever shuffle
    val qt = queries.select(
      qId.as("q_id"), explode(array_distinct(analyze(qText))).as("term"))
    val post = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    scoreAndRank(post,
      qt.groupBy("q_id", "term").agg(count(lit(1)).as("mult")).crossJoin(broadcast(stats)),
      k, k1, b)
  }

  /** The postings lake's schema, resident per stats-sidecar generation
    * (every writer of the lake rewrites the sidecar), which spares the
    * footer-inference job per read — with the empty-lake degenerate
    * case handled: a full retention purge (every bucket dir swapped
    * away) or a build over an all-empty-text corpus leaves the lake
    * with ZERO data files, and parquet schema inference would throw
    * rather than read empty — wedging serving AND the stream-ingest
    * dedupe leg ([[lexIndexIds]]) on a legitimately empty index. An
    * empty lake reads as an empty positional-postings frame (doc_id
    * long — the practical id type; a non-long-id corpus cannot produce
    * an EMPTY lake read that matters, since any real row fixes the
    * schema).
    */
  private def postingsSchema(
      spark: org.apache.spark.sql.SparkSession, path: String): StructType =
    try SidecarMemo(spark, s"$path/stats", "postings")(
      spark.read.parquet(s"$path/postings").schema)
    catch {
      // narrow to the zero-data-file conditions — a DIFFERENT analysis
      // failure (corrupt footer, foreign files) must throw, not read
      // as an empty index. Matched on the stable error condition, not
      // message text (single owner: Compact.emptyLakeRead).
      case e: org.apache.spark.sql.AnalysisException
          if graft.etl.Compact.emptyLakeRead(e) => EmptyPostings
    }

  private val EmptyPostings = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("tf", LongType),
    StructField("positions", ArrayType(IntegerType)), StructField("bucket", IntegerType)))

  /** Every bucket of the postings lake (the removal, ingest-dedupe and
    * rebucket scans), read with [[postingsSchema]].
    */
  private def readPostingsLake(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val schema = postingsSchema(spark, path)
    if (schema eq EmptyPostings) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(s"$path/postings")
  }

  /** Only the `buckets` a query vocabulary hashes into, opened by path
    * ([[Leaves.read]]): the request lists and reads just those leaves,
    * and its plan carries no bucket literal.
    */
  private def readPostingsBuckets(
      spark: org.apache.spark.sql.SparkSession, path: String, buckets: Iterable[Int]): DataFrame =
    Leaves.read(spark, s"$path/postings", postingsSchema(spark, path), "bucket", buckets)

  /** Shared scoring tail: postings (term, doc_id, dl, tf) × query
    * terms (q_id, term, mult, n_docs, total_tokens) → BM25 micro
    * contributions → per-doc sums → k-buffer top-k. The broadcast term
    * join is also the row gate (a pruned bucket holds other terms'
    * postings too).
    *
    * df is derived FROM the postings, which is what lets the persisted
    * index skip storing it — a term's whole posting list is always
    * co-resident with the term. It is counted per (q_id, term) by a
    * window over the one hit stream (one scan, no df aggregate
    * broadcast back): `qt` holds each pair once and postings are unique
    * per (term, doc_id), so that count is the term's df. `mult` is how
    * often the batch asked the pair (rows sharing a q_id); it
    * multiplies the rounded contribution, which the exact long sum
    * makes identical to adding it `mult` times. A window partition
    * keeps a null q_id together: it is scored like any other.
    */
  private def scoreAndRank(
      post: DataFrame, qt: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val scores = post.join(broadcast(qt), "term")
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id", "term")))
      .select(col("q_id"), col("doc_id"),
        (contribMicro(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("total_tokens"), k1, b) * col("mult")).as("c_micro"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("c_micro")).as("score_micro"))
    rankTail(scores, "score_micro", k)
  }

  /** Per-query ranked-tail shared by the BM25 and phrase paths — the
    * [[Ann.topkPerQuery]] id discipline applied to
    * (q_id, doc_id, metric): the typed k-buffer aggregator buffers ids
    * as NON-NULLABLE longs, so a null doc_id (a null-id corpus row
    * whose term matched a query) must be excluded here rather than
    * crash an executor encoder, and a string/uuid id column must be
    * rejected loudly rather than silently cast. doc_id surfaces as
    * long (the buffer type), like every knn output.
    */
  private def rankTail(scored: DataFrame, metric: String, k: Int): DataFrame = {
    val idType = scored.schema("doc_id").dataType.simpleString
    require(Seq("tinyint", "smallint", "int", "bigint").contains(idType),
      s"lex ranking doc_id must be integral (got $idType); " +
        "map non-numeric ids to a surrogate long first")
    TopK.perGroup(
      scored.filter(col("doc_id").isNotNull && col(metric).isNotNull),
      Seq("q_id"), col(metric), col("doc_id"), k)
      .select(col("q_id"), col("id").as("doc_id"), col("rank"),
        col("metric").as(metric))
  }

  /** Exact-PHRASE top-k: documents containing the query phrase as
    * CONSECUTIVE analyzer tokens, ranked by occurrence count (desc,
    * doc_id asc). The classic positional-intersection, shaped as ONE
    * join + one groupBy instead of L−1 self-joins: phrase slot i
    * matching a document token at position pos implies the phrase
    * would START at `anchor = pos − i`, so grouping matches by
    * (query, doc, anchor) and demanding full slot cover
    * (`count == phrase_len`) finds every occurrence — including
    * overlapping ones and phrases with repeated terms — in time ∝
    * matched postings.
    *
    * Scale shape mirrors [[searchTopK]]: the positional explode is
    * semi-joined against the broadcast phrase vocabulary AT THE SCAN,
    * so only tokens some phrase mentions ever shuffle; the anchor
    * groupBy is ∝ those matches, never ∝ corpus tokens; k-buffer
    * top-k tail. The persisted serving path is [[queryPhraseIndex]]
    * (the positional postings of [[buildLexIndex]]) — same algebra,
    * shared verbatim via [[phraseRank]].
    */
  def phraseTopK(
      docs: DataFrame, docId: Column, text: Column,
      queries: DataFrame, qId: Column, qPhrase: Column, k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    // (q_id, i, term) phrase slots: 0-based slot index, duplicates
    // kept (a phrase may repeat a term — each slot must be covered
    // independently); phrase_len counts a q_id's slots, and the inner
    // join drops null-q_id slots as queryPhraseIndex's batch does
    val slots = queries.select(
      qId.as("q_id"), posexplode(analyze(qPhrase)).as(Seq("i", "term")))
    val qt = slots.join(slots.groupBy("q_id").agg(count(lit(1)).as("phrase_len")), "q_id")
    val posToks = docs
      .select(docId.as("doc_id"), posexplode(analyze(text)).as(Seq("pos", "term")))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
    phraseRank(posToks.join(broadcast(qt), "term"), k)
  }

  /** Shared anchor-intersection tail: positional tokens matched to
    * their phrase slots, (q_id, i, phrase_len, doc_id, pos) → anchors
    * → full-cover occurrences → per-doc counts → k-buffer top-k. Rows
    * are unique per (q_id, doc_id, anchor, i) by construction ((doc,
    * pos) holds ONE term; (q, i) is one slot), so the cover count is
    * the number of matched slots at that anchor — the arithmetic is
    * IDENTICAL whether the tokens came from a live corpus tokenize
    * ([[phraseTopK]]) or an exploded positional postings read
    * ([[queryPhraseIndex]]), which is what makes index ≡ one-shot
    * bit-exact (spec-pinned, r05 oracle).
    */
  private def phraseRank(matched: DataFrame, k: Int): DataFrame = {
    val occurrences = matched
      .select(col("q_id"), col("doc_id"), (col("pos") - col("i")).as("anchor"),
        col("phrase_len"))
      .groupBy("q_id", "doc_id", "anchor", "phrase_len")
      .agg(count(lit(1)).as("cover"))
      .filter(col("cover") === col("phrase_len") && col("anchor") >= 0)
    val counts = occurrences.groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_occ"))
    rankTail(counts, "n_occ", k)
  }

  /** Exact-phrase top-k SERVED FROM the persisted positional index —
    * bit-identical to [[phraseTopK]] over the same corpus (the anchor
    * algebra is [[phraseRank]] in both; only the provenance of the
    * (term, doc_id, pos) stream differs), but the per-batch cost is a
    * read of only the phrase vocabulary's bucket directories, opened
    * by path ([[readPostingsBuckets]]), instead of a corpus re-tokenize — the serving path
    * the round-7 plan audit flagged as the one retrieval verb without
    * an index. The positions column is exploded only AFTER the bucket
    * prune and the join to the batch's phrase slots ([[QueryBatch]],
    * collected once on the driver), so the explode is ∝ matched
    * postings' occurrence counts, never ∝ the lake.
    *
    * Requires a positional index (built by this round's
    * [[buildLexIndex]]); a pre-positional postings lake fails loudly
    * with a rebuild instruction rather than serving wrong anchors.
    */
  def queryPhraseIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qPhrase: Column, k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    // same serving-side crash guard as queryLexIndex
    graft.etl.Compact.requireIndexServable(spark, path, "postings")
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    val batch = QueryBatch(queries, qId, analyze(qPhrase), nBuckets)
    val post = readPostingsBuckets(spark, path, batch.buckets)
    require(post.columns.contains("positions"),
      s"$path/postings has no positions column (pre-positional index) -- " +
        "rebuild with buildLexIndex to serve phrase queries")
    // the slot join gates the rows before the positions explode
    val matched = post.join(broadcast(batch.phraseSlots(spark)), "term")
      .select(col("q_id"), col("i"), col("phrase_len"), col("doc_id"),
        explode(col("positions")).as("pos"))
    phraseRank(matched, k)
  }

  /** Term → posting-bucket assignment (pmod of the 64-bit term hash):
    * the partition key of the persisted index. Deterministic, so the
    * query path prunes to exactly the buckets its vocabulary hashes
    * into.
    */
  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** A served query batch, analyzed and collected ONCE on the driver:
    * per query row its q_id, its terms and their buckets. The one
    * projection has no explode, so over a driver-local batch (every
    * HTTP request) Spark folds it into the local relation and runs no
    * job; any other batch is evaluated exactly this once. Bounded: the
    * batch contract every serving verb keeps (the same rows used to
    * ride broadcast joins). The rows give the pruning list and, as ONE
    * local relation, the scoring side ([[lexTerms]], [[phraseSlots]]).
    */
  private final class QueryBatch(
      qIdField: StructField, rows: Array[(Any, Seq[String], Seq[Int])]) {
    def buckets: Array[Int] = rows.flatMap(_._3).distinct

    /** (q_id, term, mult, n_docs, total_tokens): each (q_id, term)
      * pair once, with how many rows asked it (see [[scoreAndRank]]);
      * the corpus scalars are columns, not literals, so no generated
      * class depends on the index generation.
      */
    def lexTerms(
        spark: org.apache.spark.sql.SparkSession, nDocs: Long, totalTokens: Long): DataFrame = {
      val mult = scala.collection.mutable.LinkedHashMap.empty[(Any, String), Long]
      for ((q, ts, _) <- rows; t <- ts) mult((q, t)) = mult.getOrElse((q, t), 0L) + 1L
      Ann.localFrame(spark, StructType(Seq(qIdField, StructField("term", StringType),
        StructField("mult", LongType), StructField("n_docs", LongType),
        StructField("total_tokens", LongType))),
        mult.iterator.map { case ((q, t), m) => Row(q, t, m, nDocs, totalTokens) }.toSeq)
    }

    /** (q_id, i, term, phrase_len) phrase slots: 0-based slot index,
      * duplicates kept (a phrase may repeat a term — each slot must be
      * covered independently); phrase_len counts all slots of the
      * q_id. A null-q_id row has no slots, as in [[phraseTopK]].
      */
    def phraseSlots(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val slots = for ((q, ts, _) <- rows if q != null; (t, i) <- ts.zipWithIndex) yield (q, i, t)
      val len = slots.groupMapReduce(_._1)(_ => 1L)(_ + _)
      Ann.localFrame(spark, StructType(Seq(qIdField, StructField("i", IntegerType),
        StructField("term", StringType), StructField("phrase_len", LongType))),
        slots.map { case (q, i, t) => Row(q, i, t, len(q)) }.toSeq)
    }
  }

  private object QueryBatch {
    def apply(queries: DataFrame, qId: Column, toks: Column, nBuckets: Int): QueryBatch = {
      val df = queries.select(qId.as("q_id"), toks.as("toks"),
        transform(toks, t => bucketOf(t, nBuckets)).as("bks"))
      new QueryBatch(df.schema("q_id"),
        df.collect().map(r => (r.get(0), r.getSeq[String](1), r.getSeq[Int](2))))
    }
  }

  /** Build a persisted lexical (BM25 + exact-phrase) index at `path`:
    * the serving shape for repeated search over a corpus that one-shot
    * [[searchTopK]]/[[phraseTopK]] would re-scan per query batch.
    *
    * Layout:
    *  - `path/postings` — (term, doc_id, dl, tf, positions) parquet,
    *    PARTITIONED by `bucket` = hash(term) mod nBuckets: a query
    *    reads only the bucket directories its vocabulary hashes into
    *    (partition pruning — the same property that makes the IVF
    *    index queryable without scanning it). df is NOT stored: a
    *    term's full posting list lives in its bucket, so the query
    *    derives df by counting — which is also what makes
    *    [[addToLexIndex]] append-only. `positions` is the sorted
    *    0-based token-position array of the term in the doc — the
    *    POSITIONAL payload that lets [[queryPhraseIndex]] serve
    *    exact-phrase queries from the index (parquet is columnar, so
    *    BM25 serving never reads the positions column — Catalyst
    *    prunes it from the scan).
    *  - `path/stats` — 1-row (n_docs, total_tokens) sidecar, the
    *    BM25 corpus scalars (the codebook-sidecar pattern).
    *  - `path/empty` — (doc_id) membership record of ZERO-TOKEN docs:
    *    an indexed-empty doc contributes to n_docs but leaves no
    *    postings, so without this record [[removeFromLexIndex]] could
    *    not distinguish "indexed empty" from "never indexed" and had
    *    to trust caller-supplied empty text (the round-7 ADVICE
    *    hazard: a never-indexed empty-text victim decremented N).
    *    With it, every stats decrement is PROVEN against the index.
    *
    * Build cost: TWO narrow tokenize passes over the corpus (the
    * postings write and the stats agg are separate jobs; caching the
    * tokenized frame is wrong at 100 TB) — a one-time cost the
    * partition-pruned query path then amortizes forever. `nBuckets`
    * sizes partitions to the cluster (default 64; a 100 TB corpus with
    * ~10^7-term vocabulary wants enough buckets that one bucket's
    * postings fit an executor comfortably — same sizing contract as
    * packShards' nBuckets).
    */
  def buildLexIndex(
      docs: DataFrame, docId: Column, text: Column, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // postings first, stats sidecar LAST: the sidecar is the
    // index-complete marker (same crash-ordering contract as the ANN
    // codebook sidecar — queryLexIndex fails loudly on a missing stats
    // dir, never serves a half-written index silently). For an
    // IN-PLACE REBUILD the OLD sidecar must stop being a valid marker
    // FIRST: a crash after the postings overwrite would otherwise
    // serve the new postings with stale stats (or a stale nBuckets,
    // pruning the wrong bucket dirs entirely) — delete it before
    // touching the lake so every crash window refuses loudly.
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val buildFs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    buildFs.delete(statsPath, true)
    // an in-place rebuild supersedes any crashed remove: its intent
    // belongs to the OLD index generation — replaying it against the
    // new postings would remove docs the caller just (re)indexed
    buildFs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent"), true)
    buildFs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent__tmp"), true)
    val postings = positionalPostings(toks, nBuckets)
    postings
      // cluster by the partition key before the write (the removal
      // rewrite's writeShards discipline, round-15 extended to the
      // build/add paths): a bare partitionBy writes tasks × buckets
      // fragment files per pass — the decay compactPostings heals,
      // paid on every build instead of never
      .transform(Ann.clusterForWrite("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/postings")
    // the empty-members write and the stats rollup both consume only
    // (doc_id, dl) — cache that 16-byte-per-doc projection so the
    // corpus is TOKENIZED twice per build (postings + this), not three
    // times (the narrow cache is safe at any corpus scale; caching the
    // full tokenized frame would not be)
    val dlF = toks.select(col("doc_id"), col("dl")).cache()
    try {
      writeEmptyMembers(spark, path,
        dlF.filter(col("dl") === 0).select("doc_id"), overwrite = true)
      writeStatsSidecar(spark, path,
        dlF.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))
          .head(), nBuckets, postings.schema)
    } finally dlF.unpersist()
  }

  /** (term, doc_id, dl, tf, positions, bucket) postings of a tokenized
    * frame — single owner of the posting shape for build and add.
    * Positions are sorted per (term, doc) so the lake is deterministic
    * under any shuffle order.
    */
  private def positionalPostings(toks: DataFrame, nBuckets: Int): DataFrame =
    toks
      .select(col("doc_id"), col("dl"), posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))

  /** Append new documents to a persisted [[buildLexIndex]] index:
    * because df is derived at query time and postings are keyed by the
    * deterministic term-hash bucket, an add is a pure APPEND of the
    * increment's postings plus a stats-sidecar refresh — no rewrite,
    * no re-fit, build(even)+add(odd) ≡ build(all) (spec-pinned).
    * Caller contract: increment doc_ids must be NEW (a re-added id
    * would double its postings — same caller contract as
    * [[Ann.addToIvfIndex]]). Not transactional (same caveat as the ANN
    * adds): a crash between the posting append and the sidecar refresh
    * leaves stats UNDERSTATED relative to postings — a term appearing
    * in more increment docs than the stale N can reach df > N, whose
    * idf goes negative and SUBTRACTS from scores. Repair with
    * [[rebuildLexStats]] over the full corpus (do NOT re-run the add:
    * the appended postings are already on disk and would double).
    */
  def addToLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column): Unit = {
    // a crashed remove's pending intent is completed FIRST — the add's
    // relative stats refresh must start from converged numbers
    resumePendingRemove(spark, path)
    // a parked crashed-swap tree may hold a bucket's ONLY copy;
    // appending over the recreated dir would make the documented
    // rename-back recovery collide with freshly-added rows (and the
    // sidecar would already count them) — the same guard every other
    // mutation and both query verbs apply
    graft.etl.Compact.requireIndexServable(spark, path, "postings", action = "adding to")
    // the empty docs below extend the membership record: a missing one
    // must refuse BEFORE the posting append, not leave a partial record
    requireEmptyMembers(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val postings = positionalPostings(toks, nBuckets)
    postings
      .transform(Ann.clusterForWrite("bucket")) // clustered append (see build)
      .write.partitionBy("bucket").mode("append").parquet(s"$path/postings")
    // one tokenize pass for empty-members + stats, not two (see build)
    val dlF = toks.select(col("doc_id"), col("dl")).cache()
    try {
      writeEmptyMembers(spark, path,
        dlF.filter(col("dl") === 0).select("doc_id"), overwrite = false)
      val inc = dlF.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
      writeStatsSidecar(spark, path,
        org.apache.spark.sql.Row(nDocs + inc.getLong(0), totalTokens + inc.getLong(1)),
        nBuckets, postings.schema)
    } finally dlF.unpersist()
  }

  /** Retention-delete documents from a persisted [[buildLexIndex]]
    * index — the lex twin of [[Ann.removeFromIvfIndex]], sharing its
    * hazard discipline:
    *
    *  - victim ids are MATERIALIZED once (one increment-sized
    *    parquet, [[Ann.withVictims]]) and every downstream job reads
    *    the copy: a nondeterministic caller plan (sample/limit/
    *    first-wins) could otherwise remove one victim set and decrement
    *    stats by another, silently diverging postings from the sidecar
    *    forever;
    *  - the rewrite is BUCKET-CONFINED, with the affected-bucket list
    *    derived from the INDEX ITSELF (a narrow (doc_id, bucket) scan
    *    joined to the victim ids, ≤ nBuckets driver rows) — never from
    *    victim text, which could have drifted from what was indexed
    *    (edited source row, re-normalization), miss buckets and leave
    *    ghost postings serving a retention-deleted document forever.
    *    Removing a handful of documents still rewrites a handful of
    *    bucket dirs, not the whole lake;
    *  - the rewrite and its per-bucket row-count gate (kept == read −
    *    victims, BEFORE any swap — a lossy rewrite aborts with the lake
    *    untouched) are the shared [[Ann.rewriteLeavesWithout]];
    *  - a parked `__remove_old` tree with files is a crashed swap and
    *    blocks until recovered (the Compact rule) — never deleted
    *    blindly.
    *
    * ORDERING (deliberately opposite the ANN remove): bucket swaps
    * land FIRST, the decremented stats sidecar LAST. The ANN sidecar
    * holds ABSOLUTE per-cell occupancy recomputed from the rewrite, so
    * sidecar-first is retry-idempotent there; the lex stats are
    * RELATIVE decrements, so sidecar-first would double-decrement on
    * retry. The decrement itself is made crash-durable by a
    * WRITE-AHEAD INTENT (`path/remove_intent`, placed atomically via
    * tmp+rename BEFORE any mutation): the intent records the victim
    * ids and the ABSOLUTE post-remove stats, and is deleted only after
    * the sidecar lands. Every mutating verb (remove, add, rebuild,
    * compact) RESUMES a pending intent before doing its own work —
    * the resume replays the bucket rewrite (an anti-join over
    * already-clean buckets is a content no-op), the membership minus
    * (idempotent), and writes the intent's absolute stats (idempotent)
    * — so remove → crash in ANY window → retry converges to exactly
    * the one-remove state (spec-pinned), with no double-decrement and
    * no lost decrement. Queries do NOT resume (reads never mutate):
    * between the crash and the next mutating verb they serve with N
    * and Σdl overstated — idf INFLATES with N (ln is increasing in it)
    * and avgdl drifts, so scores are skewed but never hit the df > N
    * negative-idf corruption.
    *
    * STATS are decremented only for victims PROVEN against the index:
    * victims with postings count with their INDEXED dl (so drifted
    * victim text can mis-size nothing), and zero-token victims count
    * only if the `path/empty` membership record lists them (written by
    * build/add precisely because an indexed-empty doc's n_docs
    * membership is invisible to postings). Removing a never-indexed id
    * — empty text included — is thus a complete no-op, not a silent N
    * corruption (spec-pinned); the membership record is rewritten
    * minus the removed ids BEFORE the sidecar, so retrying a remove
    * after a crash-before-sidecar never double-decrements empty
    * victims either.
    */
  def removeFromLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column): Unit =
    removeFromLexIndex(spark, path, docs, docId, crashBeforeStatsSidecar = false)

  /** Fault-injection overload for the crash-window specs: when
    * `crashBeforeStatsSidecar` is set the remove performs the bucket
    * swaps and the membership rewrite, then throws INSTEAD of writing
    * the stats sidecar — the exact window the write-ahead intent
    * exists to close. Production callers use the public overload.
    */
  private[graft] def removeFromLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column,
      crashBeforeStatsSidecar: Boolean): Unit = {
    resumePendingRemove(spark, path)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.etl.Compact.clearOrRefuseParked(fs, removeOldRoot(target), "removal")
    // ANY other verb's parked tree (a crashed compactLexIndex swap
    // lives at postings__compact_old, a crashed rebucket at
    // <path>__rebucket_old) also blocks: the lake is missing a bucket's
    // only copy, and an anti-join rewrite against it would cement the
    // loss
    graft.etl.Compact.requireIndexServable(spark, path, "postings", action = "removal")
    Ann.withVictims(fs, target, docs.select(docId.as("doc_id")).distinct()) { vicIds =>
      removeWithVictims(spark, path, fs, vicIds, nDocs, totalTokens, nBuckets,
        crashBeforeStatsSidecar)
    }
  }

  private def removeOldRoot(target: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__remove_old")

  /** [[removeFromLexIndex]] after victim materialization: decrement
    * (present victims + recorded empty docs only) under a write-ahead
    * intent, then rewrite, gate, swap.
    */
  private def removeWithVictims(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem,
      vicIds: DataFrame, nDocs: Long, totalTokens: Long, nBuckets: Int,
      crashBeforeStatsSidecar: Boolean): Unit = {
    // the decrement is COMPUTED before any swap (the postings read is
    // lazy — after the swaps it would re-read the rewritten lake and
    // see every present victim as absent) but WRITTEN last (see
    // ORDERING):
    //  - victims PRESENT in the postings count with their INDEXED dl
    //    (every posting row of a doc carries the same dl — max is it);
    //  - victims ABSENT from the postings count only if the index's
    //    OWN empty-membership record lists them (indexed zero-token
    //    docs — see buildLexIndex's `path/empty`), so a doc indexed
    //    EMPTY whose source text later gained tokens still counts
    //    correctly.
    val present = readPostingsLake(spark, path).select("doc_id", "dl")
      .join(vicIds, "doc_id")
      .groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val emptyVictims = readEmptyMembers(spark, path)
      .join(vicIds, "doc_id").select(col("doc_id"), lit(0L).as("dl"))
    val countable = present.unionByName(
      emptyVictims
        .join(present.select("doc_id"), Seq("doc_id"), "left_anti"))
    val dec = countable.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
    // nothing indexed anywhere (no victim has postings or is a
    // recorded empty doc) → complete no-op: no intent, no writes (same
    // graceful degradation as the ANN remove's early return)
    if (dec.getLong(0) == 0) return
    // WRITE-AHEAD INTENT before any mutation (see ORDERING): victim
    // ids + the ABSOLUTE post-remove stats, so any crash window below
    // is resumable to exactly the one-remove state
    writeRemoveIntent(spark, path, fs, vicIds,
      nDocs - dec.getLong(0), totalTokens - dec.getLong(1))
    executeRemove(spark, path, fs, vicIds,
      nDocs - dec.getLong(0), totalTokens - dec.getLong(1),
      nBuckets, crashBeforeStatsSidecar)
  }

  /** The mutation tail shared by a live remove and an intent resume:
    * bucket-confined anti-join rewrite + gate + swap, membership
    * minus, ABSOLUTE stats sidecar, intent cleanup. Every step is
    * idempotent (an anti-join over already-clean buckets keeps every
    * row and passes the gate with nv = 0; the membership minus and the
    * absolute sidecar write converge), which is what makes the intent
    * replayable from any crash window.
    */
  private def executeRemove(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, vicIds: DataFrame,
      newNDocs: Long, newTotalTokens: Long, nBuckets: Int,
      crashBeforeStatsSidecar: Boolean): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    val tmpRoot = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__remove_tmp")
    // the lake keeps its schema through the removal; the sidecar write
    // below records it for the new generation
    val schema = postingsSchema(spark, path)
    // the crashed remove being resumed may have emptied the lake
    // entirely (last posted docs removed): an empty lake reads as empty
    // and has nothing to rewrite
    val (affected, _) = Ann.rewriteLeavesWithout(
      readPostingsLake(spark, path), target.toString, vicIds, "doc_id", "bucket", tmpRoot)
    // per-bucket two-rename swaps (single owner: Compact); an emptied
    // bucket's dir disappears — queries prune by bucket value, a
    // missing dir reads as zero postings
    if (affected.nonEmpty)
      graft.etl.Compact.swapRewrittenLeaves(
        fs, target, tmpRoot, removeOldRoot(target), affected.map(b => s"bucket=$b").toSeq)
    // membership record rewritten BEFORE the sidecar (see ORDERING);
    // re-derived here (not threaded in) so a resume replays it too —
    // minus of already-absent ids is skipped by the emptiness probe
    if (!readEmptyMembers(spark, path).join(vicIds, "doc_id").isEmpty)
      rewriteEmptyMembersMinus(spark, path, vicIds)
    if (crashBeforeStatsSidecar)
      throw new IllegalStateException(
        "injected crash before stats sidecar (test hook)")
    // stats sidecar LAST (see ORDERING) — ABSOLUTE values from the
    // intent, so replaying this write converges instead of compounding
    writeStatsSidecar(spark, path,
      org.apache.spark.sql.Row(newNDocs, newTotalTokens), nBuckets, schema)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent"), true)
  }

  /** Place the remove intent (`path/remove_intent`): victim ids +
    * absolute post-remove stats, written to `remove_intent__tmp` and
    * put in place by [[graft.etl.Compact.replaceDir]], so the intent
    * either fully exists or not at all. A pre-existing intent cannot
    * be present here — every mutating verb resumes it first.
    */
  private def writeRemoveIntent(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, vicIds: DataFrame,
      newNDocs: Long, newTotalTokens: Long): Unit = {
    import spark.implicits._
    graft.etl.Compact.replaceDir(fs, new org.apache.hadoop.fs.Path(s"$path/remove_intent"), "") { tmp =>
      vicIds.write.parquet(s"$tmp/victims")
      Seq((newNDocs, newTotalTokens)).toDF("n_docs", "total_tokens")
        .coalesce(1).write.parquet(s"$tmp/stats")
    }
  }

  /** Complete a crashed remove from its write-ahead intent — called by
    * every MUTATING verb (remove/add/rebuild/compact) before its own
    * work; queries never resume (reads must not mutate, they serve the
    * documented overstated-stats window instead). A half-written
    * `remove_intent__tmp` (crash mid-intent-write) is dropped: nothing
    * was mutated yet, the caller's retry recomputes from scratch.
    */
  private[graft] def resumePendingRemove(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$path/remove_intent")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent__tmp"), true)
    if (!fs.exists(dst)) return
    val st = spark.read.parquet(s"$dst/stats").head()
    val vicIds = spark.read.parquet(s"$dst/victims").select("doc_id")
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    // a crash MID-SWAP parks buckets at __remove_old — that still
    // blocks loudly (the Compact rule): the intent cannot replay a
    // rewrite over a lake missing a bucket's only copy
    graft.etl.Compact.clearOrRefuseParked(fs, removeOldRoot(target), "removal resume")
    graft.etl.Compact.requireIndexServable(spark, path, "postings", action = "resuming removal on")
    executeRemove(spark, path, fs, vicIds, st.getLong(0), st.getLong(1), nBuckets,
      crashBeforeStatsSidecar = false)
  }

  /** The `path/empty` membership record. A record DIRECTORY with no
    * data files reads as zero members; a MISSING record is refused
    * ([[requireEmptyMembers]]) — reading it as "no empty docs" would
    * drop indexed-empty ids and skip their stats decrements.
    */
  private def readEmptyMembers(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/empty")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireEmptyMembers(fs, path)
    if (Ann.listDataFiles(fs, p.toString).isEmpty)
      spark.range(0).select(col("id").as("doc_id"))
    else spark.read.parquet(p.toString).select("doc_id")
  }

  /** Every build writes `path/empty`, so its absence is damage: a
    * crash between the two renames of a record swap leaves it parked
    * at `path/empty__old` (rename it back); anything else is repaired
    * by [[rebuildLexStats]] over the full corpus.
    */
  private def requireEmptyMembers(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/empty")
    if (!fs.exists(p)) {
      val old = new org.apache.hadoop.fs.Path(s"$path/empty__old")
      if (graft.etl.Compact.walkFiles(fs, old).hasNext)
        throw new IllegalStateException(
          s"$p is missing and $old holds the parked empty-doc membership record -- " +
            s"a swap crashed mid-rename; rename $old back to $p")
      throw new IllegalStateException(
        s"$p (the empty-doc membership record) is missing -- " +
          "run Bm25.rebuildLexStats over the full corpus")
    }
  }

  /** Write (build/rebuild: overwrite via park-and-swap) or extend
    * (add: append) the empty-doc membership record.
    */
  private def writeEmptyMembers(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, overwrite: Boolean): Unit =
    if (!overwrite) ids.write.mode("append").parquet(s"$path/empty")
    else replaceRecord(spark, path, "empty")(ids)

  /** Replace the record or sidecar dir `path/name` with `df`
    * ([[graft.etl.Compact.replaceDir]]: written to `name__tmp`, then
    * swapped in via `name__old`, or renamed into place on first write).
    */
  private def replaceRecord(
      spark: org.apache.spark.sql.SparkSession, path: String, name: String)(
      df: DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$path/$name")
    graft.etl.Compact.replaceDir(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target, "") { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Rewrite the membership record minus the removed ids (tmp + swap —
    * the new record derives from reading the old one, so an in-place
    * overwrite would truncate its own input).
    */
  private def rewriteEmptyMembersMinus(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vicIds: DataFrame): Unit = {
    replaceRecord(spark, path, "empty")(
      readEmptyMembers(spark, path).join(vicIds, Seq("doc_id"), "left_anti"))
  }

  /** Bounded observability read of a lex index: corpus scalars from
    * the 1-row stats sidecar plus the indexed-empty membership count.
    * SINGLE owner of the read shared by
    * the HTML inventory cards and the HTTP `/index/stats` endpoint —
    * the postings lake is never scanned.
    */
  case class LexIndexStats(
      nDocs: Long, totalTokens: Long, nBuckets: Int, indexedEmpty: Long)

  def lexIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): LexIndexStats = {
    // through readStatsSidecar, not an inline head(): the sidecar
    // reader owns the exactly-1-row validation (a corrupted/duplicated
    // sidecar must fail loudly on the observability surface too, not
    // report whichever row head() happens to return)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    LexIndexStats(nDocs, totalTokens, nBuckets, readEmptyMembers(spark, path).count())
  }

  /** Every doc_id the index currently serves: postings members plus
    * the indexed-empty docs. The id surface for exactly-once stream
    * ingest ([[graft.streaming.Streams.indexIngest]]'s dedup leg) —
    * a NARROW id-only column scan of the postings lake, nothing else
    * read.
    */
  def lexIndexIds(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    readPostingsLake(spark, path).select("doc_id")
      .unionByName(readEmptyMembers(spark, path))
      .distinct()
  }

  /** Rebuild the stats sidecar — and the empty-doc membership record —
    * from the CURRENT full corpus: the universal repair for any crash
    * window that left postings and stats inconsistent
    * ([[addToLexIndex]]'s append-then-refresh,
    * [[removeFromLexIndex]]'s swap-then-decrement, a lost membership
    * record). One narrow tokenize pass; postings untouched.
    */
  def rebuildLexStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column): Unit = {
    // finish a crashed remove first: rebuilding over un-replayed
    // victim postings would bless the pre-remove state while the
    // pending intent still promises their removal
    resumePendingRemove(spark, path)
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      // a repair verb must not import the caller's dirt: a corpus frame
      // with duplicated doc rows (join fan-out) would inflate the very
      // stats it exists to fix
      .dropDuplicates("doc_id")
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val row = toks
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
    writeEmptyMembers(spark, path,
      toks.filter(col("dl") === 0).select("doc_id"), overwrite = true)
    writeStatsSidecar(spark, path, row, nBuckets, postingsSchema(spark, path))
  }

  /** Top-k BM25 against a persisted [[buildLexIndex]] index —
    * bit-identical results to [[searchTopK]] over the same corpus
    * (same arithmetic owners), but the per-batch cost is a read of only
    * the query vocabulary's bucket directories, opened by path
    * ([[readPostingsBuckets]]: only those are listed, and the plan holds
    * no bucket literal), instead of a corpus scan. The query batch is
    * analyzed and collected once on the driver ([[QueryBatch]];
    * bounded, the same contract as the ANN query batch): its terms give
    * the bucket list and, as one local relation carrying the corpus
    * scalars, the scoring side, so the batch is evaluated exactly once.
    */
  def queryLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qText: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    // serving-side crash guard: a parked tree with files — from a
    // crashed REMOVAL or COMPACTION of the lake (`postings__*_old`) or
    // a crashed REBUCKET of the whole index (`<path>__rebucket_old`) —
    // means some bucket's only copy sits outside what a query reads;
    // serving would silently answer with its terms missing, for every
    // query, indefinitely. Fail loudly instead; the stats sidecar alone
    // cannot mark this (it predates the crash).
    graft.etl.Compact.requireIndexServable(spark, path, "postings")
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val batch = QueryBatch(queries, qId, array_distinct(analyze(qText)), nBuckets)
    scoreAndRank(readPostingsBuckets(spark, path, batch.buckets),
      batch.lexTerms(spark, nDocs, totalTokens), k, k1, b)
  }

  /** Compact a persisted lex index's postings lake — each
    * [[addToLexIndex]] appends one file per touched bucket, so a
    * daily-add index decays into many small files per bucket over
    * time; same fix as [[Ann.compactIndex]], delegating to
    * [[graft.etl.Compact.compactPartitioned]] (only fragmented buckets
    * are rewritten, in one write outside the lake; every bucket's
    * footer row count is gated before the first park-then-swap). The
    * stats sidecar is untouched and query results are bit-identical
    * before/after (spec-pinned).
    */
  def compactLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.etl.Compact.CompactStats)] = {
    resumePendingRemove(spark, path)
    graft.etl.Compact.compactPartitioned(spark, s"$path/postings", targetBytes)
  }

  /** Write the stats sidecar, which starts a new index generation,
    * and record what the next reads of that generation would load: the
    * stats row and the postings lake's schema (`postings`: the schema
    * of what the caller wrote, or the lake's unchanged one), so the
    * first query after a write infers nothing.
    */
  private def writeStatsSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String,
      row: org.apache.spark.sql.Row, nBuckets: Int, postings: StructType): Unit = {
    val stats = (row.getLong(0), row.getLong(1), nBuckets)
    replaceRecord(spark, path, "stats")(statsFrame(spark, stats))
    recordGeneration(spark, path, stats, postings)
  }

  private def statsFrame(
      spark: org.apache.spark.sql.SparkSession, stats: (Long, Long, Int)): DataFrame = {
    import spark.implicits._
    Seq(stats).toDF("n_docs", "total_tokens", "n_buckets").coalesce(1)
  }

  private def recordGeneration(
      spark: org.apache.spark.sql.SparkSession, path: String,
      stats: (Long, Long, Int), postings: StructType): Unit = {
    SidecarMemo.record(spark, s"$path/stats", "stats", stats)
    SidecarMemo.record(spark, s"$path/stats", "postings",
      if (postings eq EmptyPostings) postings
      else org.apache.spark.sql.GraftColumnShim.asNullable(StructType(
        postings.filter(_.name != "bucket") ++ postings.filter(_.name == "bucket"))))
  }

  private val StatsSchema = StructType(Seq(StructField("n_docs", LongType),
    StructField("total_tokens", LongType), StructField("n_buckets", IntegerType)))

  /** (n_docs, total_tokens, n_buckets) — bounded 1-row read; fails
    * loudly on a missing/corrupt sidecar (the index-complete marker).
    */
  private def readStatsSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String): (Long, Long, Int) =
    // resident per sidecar generation (SidecarMemo)
    SidecarMemo(spark, s"$path/stats", "stats") {
      // read with its fixed schema: no footer-inference job
      val rows = spark.read.schema(StatsSchema).parquet(s"$path/stats").collect()
      require(rows.length == 1 && !rows(0).anyNull,
        s"$path/stats is not a 1-row sidecar -- not a lex index")
      (rows(0).getLong(0), rows(0).getLong(1), rows(0).getInt(2))
    }

  /** Re-bucket a persisted lex index to `newBuckets` posting buckets —
    * the layout-decay cure bucket COUNTS need: `nBuckets` is fixed at
    * [[buildLexIndex]] time, so an index that has grown 100× since
    * build still spreads its postings over the toy-scale bucket count,
    * per-bucket files balloon, and query-time pruning degrades toward
    * full scans ([[compactLexIndex]] heals FILE decay within buckets,
    * never the bucket count itself). One full-lake rewrite — the
    * honest cost of changing a hash-partitioned layout — then the
    * partition-pruned query path amortizes at the new width forever.
    *
    * The rewrite replaces the WHOLE index root through the journaled
    * core ([[graft.etl.Compact.rewriteJournaled]], verb `rebucket`):
    * `<path>__rebucket_tmp` receives the rebucketed `postings`, the
    * `stats` row with the new `n_buckets` and a copy of `empty`, so the
    * lake and the sidecar whose `n_buckets` drives pruning change in
    * ONE swap and never disagree. Crash contract, shared with every
    * whole-directory rewrite: before the swap the original is
    * untouched; a crash in the swap window parks it at
    * `<path>__rebucket_old` under the `.<name>__swap_intent` manifest;
    * every query and mutating verb refuses while a filed park stands
    * ([[graft.etl.Compact.requireIndexServable]]); and the next rebucket
    * converges first (restore the park, or drop it when the root is the
    * recorded rewrite), then rebuckets to the width it was asked for
    * (already at that width: a no-op). Stats (n_docs, total_tokens)
    * are preserved bit-identically; query results are bit-identical
    * before/after (spec-pinned). The IVF family's twin is
    * [[Ann.refitIvfIndex]], which re-fits the coarse quantizer: its
    * cell count is baked into the trained codebook.
    */
  def rebucketLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val landed = graft.etl.Compact.rewriteJournaled(fs, root, "rebucket") { tmp =>
      // a crashed remove completes in place first: its intent is not
      // carried into the rewritten root
      resumePendingRemove(spark, path)
      graft.etl.Compact.requireServable(
        fs, new org.apache.hadoop.fs.Path(root, "postings"), action = "rebucketing")
      requireEmptyMembers(fs, path)
      val (nDocs, totalTokens, oldBuckets) = readStatsSidecar(spark, path)
      if (oldBuckets == newBuckets) None
      else {
        val schema = postingsSchema(spark, path)
        // cache for the rewrite + count gate, UNPERSISTED before the
        // swap: a cached plan over path/postings would keep answering
        // post-rebucket reads of the same path with the OLD lake's rows
        // (Spark's cache substitutes by plan equality)
        val src = readPostingsLake(spark, path).cache()
        try {
          val n = src.count()
          // bucket recomputed from the TERM — idempotent over any layout
          src.drop("bucket")
            .withColumn("bucket", bucketOf(col("term"), newBuckets))
            .transform(Ann.clusterForWrite("bucket"))
            .write.partitionBy("bucket").parquet(s"$tmp/postings")
          val nTmp = spark.read.schema(schema).parquet(s"$tmp/postings").count()
          if (nTmp != n)
            throw new IllegalStateException(
              s"rebucket of $path would lose postings ($n read, $nTmp rewritten) -- " +
                "aborted, original untouched and still serving")
        } finally src.unpersist(blocking = true)
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root, "empty"),
          fs, new org.apache.hadoop.fs.Path(tmp, "empty"), false, spark.sparkContext.hadoopConfiguration)
        val stats = (nDocs, totalTokens, newBuckets)
        statsFrame(spark, stats).write.parquet(s"$tmp/stats")
        Some((stats, schema))
      }
    }
    // drop any cached file listing/data for the swapped root — a stale
    // InMemoryFileIndex would read renamed-away files
    spark.catalog.refreshByPath(path)
    landed.foreach { case (stats, schema) => recordGeneration(spark, path, stats, schema) }
  }
}
