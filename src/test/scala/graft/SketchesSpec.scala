package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** [[graft.operators.Sketches]] — KMV distinct-count. The q22 oracle
  * replays the sketch cross-engine; these specs pin the statistical
  * contract (exactness under k, error bounds over k, duplicate
  * insensitivity, mergeability) that the bit-replay alone can't
  * express.
  */
class SketchesSpec extends SparkSpecBase {

  import spark.implicits._

  test("groups under k distinct values are EXACT; duplicates don't occupy slots") {
    val df = (Seq.fill(50)("a" -> 1) ++ (1 to 30).map("b" -> _) ++
      Seq.fill(10)("b" -> 7)) // b: 30 distinct, value 7 heavily duplicated
      .toDF("key", "v")
    val out = Sketches.kmvDistinctByKey(df, col("key"), col("v"), k = 64)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getDouble(3))).toMap
    assert(out("a") === ((1, 1.0)))
    assert(out("b") === ((30, 30.0)))
  }

  test("estimate lands within 3 standard errors at k=256 over 10k distinct values") {
    val n = 10000
    val df = (1 to n).map(i => ("g", s"val_$i")).toDF("key", "v")
    val est = Sketches.kmvDistinctByKey(df, col("key"), col("v"), k = 256)
      .select("est_distinct").head.getDouble(0)
    val se = 1.0 / math.sqrt(256 - 2)
    assert(math.abs(est - n) / n <= 3 * se,
      s"KMV estimate $est vs $n exceeds 3x standard error (${3 * se})")
  }

  test("sketch is mergeable: bottom-k of unioned halves equals whole-corpus sketch") {
    val all = (1 to 5000).map(i => ("g", s"val_$i"))
    val whole = Sketches.kmvDistinctByKey(
      all.toDF("key", "v"), col("key"), col("v"), k = 128)
      .select("kth_hash", "est_distinct").head()
    // merge = union the halves' bottom-k hash sets, re-take the bottom k.
    // (The halves OVERLAP — a real multi-shard merge must dedup, which
    // the distinct() inside the operator models.)
    val h1 = all.take(3000)
    val h2 = all.drop(2000)
    val merged = Sketches.kmvDistinctByKey(
      (h1 ++ h2).toDF("key", "v"), col("key"), col("v"), k = 128)
      .select("kth_hash", "est_distinct").head()
    assert(merged === whole)
  }

  test("persisted sketch merge: save overlapping increments, merge ≡ one-shot bit-for-bit") {
    // the incremental-pipeline shape: sketch each increment, persist,
    // merge WITHOUT re-scanning any corpus — bottom-k-distinct is a
    // semilattice, so the merged sketch (not just its estimate) must
    // equal the one-shot sketch over the union
    val all = (1 to 5000).map(i => ("g", s"val_$i"))
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_lake").toString
    Sketches.kmvSketchByKey(
      all.take(3000).toDF("key", "v"), col("key"), col("v"), k = 128)
      .write.mode("append").parquet(dir)
    Sketches.kmvSketchByKey(
      all.drop(2000).toDF("key", "v"), col("key"), col("v"), k = 128) // overlaps 2001-3000
      .write.mode("append").parquet(dir)
    val merged = Sketches.kmvMergeSketches(
      spark.read.parquet(dir), col("key"), col("mins"), k = 128)
    val oneShot = Sketches.kmvSketchByKey(
      all.toDF("key", "v"), col("key"), col("v"), k = 128)
    assert(merged.select("mins").head.getSeq[Long](0) ==
      oneShot.select("mins").head.getSeq[Long](0),
      "merged sketch diverged from the one-shot sketch")
    val estM = Sketches.kmvEstimate(merged, 128).select("est_distinct").head.getDouble(0)
    val est1 = Sketches.kmvEstimate(oneShot, 128).select("est_distinct").head.getDouble(0)
    assert(estM == est1)
  }

  test("nulls are excluded like COUNT(DISTINCT)") {
    val df = Seq(("a", Some(1)), ("a", None), ("a", Some(2)))
      .toDF("key", "v")
    val out = Sketches.kmvDistinctByKey(df, col("key"), col("v"), k = 8)
      .select("n_kept").head.getInt(0)
    assert(out === 2)
  }

  private def setRow(a: Seq[Int], b: Seq[Int], k: Int) = {
    val sa = Sketches.kmvSketchByKey(
      a.map(("g", _)).toDF("key", "v"), col("key"), col("v"), k)
    val sb = Sketches.kmvSketchByKey(
      b.map(("g", _)).toDF("key", "v"), col("key"), col("v"), k)
    Sketches.kmvSetEstimates(sa, sb, col("key"), col("key"), k).head()
  }

  test("set estimates are EXACT when both sketches are under capacity") {
    val r = setRow(1 to 30, 21 to 50, k = 64)
    assert(r.getAs[Long]("theta") === 1152921504606846976L)
    assert(r.getAs[Int]("n_inter") === 10)
    assert(r.getAs[Int]("n_union") === 50)
    assert(r.getAs[Int]("n_only_a") === 20)
    assert(r.getAs[Int]("n_only_b") === 20)
    // full-range θ ⇒ scale factor exactly 1.0 ⇒ estimates ARE the counts
    assert(r.getAs[Double]("est_inter") === 10.0)
    assert(r.getAs[Double]("est_union") === 50.0)
    assert(r.getAs[Double]("jaccard") === 0.2)
  }

  test("disjoint sets give zero intersection; identical sets give jaccard 1") {
    val d = setRow(1 to 10, 11 to 20, k = 64)
    assert(d.getAs[Int]("n_inter") === 0)
    assert(d.getAs[Double]("est_inter") === 0.0)
    assert(d.getAs[Double]("jaccard") === 0.0)
    val i = setRow(1 to 10, 1 to 10, k = 64)
    assert(i.getAs[Double]("jaccard") === 1.0)
    assert(i.getAs[Int]("n_only_a") === 0)
    assert(i.getAs[Int]("n_only_b") === 0)
  }

  test("at capacity the estimates track the true overlap (A 1-10k, B 5k-15k, k=256)") {
    val r = setRow(1 to 10000, 5001 to 15000, k = 256)
    // true: inter 5000, union 15000, jaccard 1/3. The sub-θ intersection
    // sample is ≈ k·|∩|/|∪| ≈ 85 coordinated survivors, se ≈ 1/√85 ≈ 11%
    val estI = r.getAs[Double]("est_inter")
    val estU = r.getAs[Double]("est_union")
    val j = r.getAs[Double]("jaccard")
    assert(math.abs(estI - 5000) / 5000.0 <= 0.45, s"est_inter $estI")
    assert(math.abs(estU - 15000) / 15000.0 <= 3.0 / math.sqrt(254), s"est_union $estU")
    assert(j > 0.22 && j < 0.45, s"jaccard $j vs 1/3")
  }

  test("set estimates compose with the persisted merged lake bit-for-bit") {
    // sketch(A) via merged increments ≡ one-shot sketch(A) (semilattice),
    // so the set estimates downstream must be bit-identical too
    val k = 64
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_set_lake").toString
    val a = (1 to 4000).map(i => ("g", s"v$i"))
    Sketches.kmvSketchByKey(a.take(2500).toDF("key", "v"), col("key"), col("v"), k)
      .write.mode("append").parquet(dir)
    Sketches.kmvSketchByKey(a.drop(1500).toDF("key", "v"), col("key"), col("v"), k)
      .write.mode("append").parquet(dir)
    val merged = Sketches.kmvMergeSketches(
      spark.read.parquet(dir), col("key"), col("mins"), k)
    val oneShot = Sketches.kmvSketchByKey(
      a.toDF("key", "v"), col("key"), col("v"), k)
    val b = Sketches.kmvSketchByKey(
      (2000 to 6000).map(i => ("g", s"v$i")).toDF("key", "v"), col("key"), col("v"), k)
    val viaLake = Sketches.kmvSetEstimates(merged, b, col("key"), col("key"), k).head()
    val direct = Sketches.kmvSetEstimates(oneShot, b, col("key"), col("key"), k).head()
    assert(viaLake === direct)
  }

  test("mixed capacity: the complete small side rides the large side's theta") {
    val k = 64
    val r = setRow(1 to 20, 1 to 5000, k) // A ⊂ B, A under capacity
    assert(r.getAs[Long]("theta") < 1152921504606846976L, "θ must come from B")
    // union = B exactly; the sub-θ survivors estimate it like kmvEstimate
    val estU = r.getAs[Double]("est_union")
    assert(math.abs(estU - 5000) / 5000.0 <= 0.4, s"est_union $estU")
    assert(r.getAs[Int]("n_inter") <= 20)
  }

  test("bloom: zero false negatives; false-positive rate inside the theoretical envelope") {
    val vals = (1 to 1000).map(i => ("g", s"present_$i"))
    val df = vals.toDF("key", "v")
    val b = Sketches.bloomBuild(df, col("v"), mBits = 1 << 14, kHash = 5)

    val membership = df.select(col("v"), Sketches.bloomContains(b, col("v")).as("m"))
      .collect()
    assert(membership.forall(_.getBoolean(1)), "Bloom produced a false negative")

    val absent = (1 to 10000).map(i => s"absent_$i").toDF("v")
    val fp = absent.select(Sketches.bloomContains(b, col("v")).as("m"))
      .filter(col("m")).count()
    // theory at n=1000, m=16384, k=5: (1 - e^(-kn/m))^5 ≈ 0.13% — allow 2%
    assert(fp < 200, s"false-positive count $fp out of 10000 is far above theory")

    val withNull = Seq(Option("present_1"), None).toDF("v")
    val nm = withNull.select(Sketches.bloomContains(b, col("v")).as("m"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(nm === Seq(true, false))
  }

  test("bloom-prefiltered decontamination equals the exact operator") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // leaks eval doc 1
      (101L, "totally unrelated text with other words entirely"),
      (102L, "the quick brown fox jumps over dogs"),
      (103L, "beta gamma delta epsilon zeta eta theta")) // leaks too
      .toDF("doc_id", "text")
    val eval = Seq(
      (1L, "beta gamma delta epsilon zeta eta"),
      (2L, "nothing in common here at all right"))
      .toDF("doc_id", "text")
    val exact = graft.operators.Dedup.contaminationPairs(
      corpus, col("doc_id"), col("text"), eval, col("doc_id"), col("text"), n = 5)
      .orderBy("doc_id", "eval_id").collect().toSeq
    val bloomed = graft.operators.Dedup.contaminationPairsBloom(
      corpus, col("doc_id"), col("text"), eval, col("doc_id"), col("text"),
      n = 5, mBits = 1 << 10, kHash = 5)
      .orderBy("doc_id", "eval_id").collect().toSeq
    assert(exact.nonEmpty, "fixture produced no contamination pairs — test is vacuous")
    assert(bloomed === exact)
    // and the sf fixture query agrees with its exact twin end-to-end
    val q = graft.queries.CurationQueries.c11BloomDecontam(spark, sfDir).collect().toSeq
    val qExact = graft.queries.CurationQueries.c03Decontamination(spark, sfDir).collect().toSeq
    assert(q === qExact)
  }

  test("k below 3 is rejected") {
    val df = Seq(("a", 1)).toDF("key", "v")
    intercept[IllegalArgumentException] {
      Sketches.kmvDistinctByKey(df, col("key"), col("v"), k = 2)
    }
  }

  // -------------------- Misra–Gries heavy hitters -------------------- //

  /** Zipf-ish skew: key i appears ~N/i times — a long tail plus a few
    * dominant keys, the shape heavyHitters exists to find.
    */
  private def zipfKeys(nKeys: Int, scale: Int): Seq[String] =
    (1 to nKeys).flatMap(i => Seq.fill(math.max(1, scale / i))(s"k$i"))

  test("MG candidates are a superset of true heavy hitters under adversarial partitioning") {
    val keys = zipfKeys(nKeys = 400, scale = 2000)
    val n = keys.size
    val k = 20
    val truth = keys.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > n.toDouble / (k + 1)).keySet
    assert(truth.nonEmpty, "fixture has no heavy hitters — test is vacuous")
    // sorted layout packs each hot key into few partitions; many
    // partitions force deep merge trees — the bound must hold anyway
    for (parts <- Seq(1, 7, 32)) {
      val df = keys.sorted.toDF("key").repartition(parts)
      val mg = Sketches.frequentCandidates(df, col("key"), k)
      assert(mg.total === n)
      assert(mg.candidates.size <= k)
      val missed = truth -- mg.candidates.toSet
      assert(missed.isEmpty,
        s"MG at $parts partitions lost heavy hitters $missed (guarantee violated)")
    }
  }

  test("heavyHitters equals brute force exactly, counts and shares included") {
    val keys = zipfKeys(nKeys = 300, scale = 1500)
    val n = keys.size
    val k = 15
    val df = keys.toDF("key").repartition(11)
    val got = Sketches.heavyHitters(df, col("key"), k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val brute = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2.toDouble > n.toDouble / (k + 1))
      .toSeq.sortBy { case (key, c) => (-c, key) }
      .map { case (key, c) => (key, c, n.toLong, c.toDouble / n) }
    assert(got === brute)
  }

  test("heavyHitters threshold is strict: a key at exactly n/(k+1) is excluded") {
    // n = 40, k = 3 → threshold 10.0; "at" has exactly 10, "over" 12
    val keys = Seq.fill(12)("over") ++ Seq.fill(10)("at") ++
      (1 to 18).map(i => s"tail$i")
    assert(keys.size === 40)
    val out = Sketches.heavyHitters(keys.toDF("key"), col("key"), k = 3)
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("over"))
  }

  test("heavyHitters ignores nulls and is deterministic across partitioning") {
    val keys: Seq[Option[String]] =
      zipfKeys(200, 900).map(Option(_)) ++ Seq.fill(50)(Option.empty[String])
    val a = Sketches.heavyHitters(
      keys.toDF("key").repartition(1), col("key"), k = 10).collect().toSeq
    val b = Sketches.heavyHitters(
      keys.toDF("key").repartition(13), col("key"), k = 10).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
    // totals exclude the nulls (COUNT(key) semantics)
    assert(a.head.getLong(2) === keys.count(_.isDefined))
  }

  test("persisted MG lake: merged heavy hitters equal brute force over the union") {
    // increments with DIFFERENT hot keys — the merge must surface each
    // increment's locals AND any key that is only heavy in aggregate
    val incA = Seq.fill(200)("hotA") ++ zipfKeys(100, 300)
    val incB = Seq.fill(180)("hotB") ++ zipfKeys(120, 250).map(k => s"b_$k") ++
      Seq.fill(60)("hotA") // hotA continues across increments
    val incC = Seq.fill(90)("hotC") ++ (1 to 400).map(i => s"c_tail$i")
    val k = 12
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_lake").toString
    Seq(("a", incA), ("b", incB), ("c", incC)).foreach { case (inc, keys) =>
      Sketches.mgSketch(keys.toDF("key").repartition(5), col("key"), k, inc)
        .write.mode("append").parquet(dir)
    }
    val union = (incA ++ incB ++ incC)
    val got = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(dir), k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val n = union.size
    val brute = union.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2.toDouble > n.toDouble / (k + 1))
      .toSeq.sortBy { case (key, c) => (-c, key) }
      .map { case (key, c) => (key, c, n.toLong, c.toDouble / n) }
    assert(brute.nonEmpty, "fixture has no global heavy hitters — vacuous")
    assert(got === brute)
  }

  test("mgSketchesByInc: one-pass grouped lake serves the same heavy hitters as per-increment mgSketch") {
    // the q26 shape: increments = a column, sketched in ONE groupBy
    // pass instead of one filtered scan per increment. Candidate SETS
    // may differ (merge order), but lake structure and the VERIFIED
    // heavy hitters must be identical.
    val incA = Seq.fill(200)("hotA") ++ zipfKeys(100, 300)
    val incB = Seq.fill(180)("hotB") ++ zipfKeys(120, 250).map(k => s"b_$k") ++
      Seq.fill(60)("hotA")
    val incC = Seq.fill(90)("hotC") ++ (1 to 400).map(i => s"c_tail$i")
    val k = 12
    val rows = Seq(("a", incA), ("b", incB), ("c", incC))
      .flatMap { case (inc, keys) => keys.map(key => (inc, key)) }
    val df = rows.toDF("inc", "key").repartition(7)
    val lake = Sketches.mgSketchesByInc(df, col("key"), col("inc"), k)
    val lakeRows = lake.collect()
    // structure: one NULL-item marker per increment with the exact
    // total; ≤ k strictly-positive counter rows per increment
    Seq(("a", incA), ("b", incB), ("c", incC)).foreach { case (inc, keys) =>
      val markers = lakeRows.filter(r => r.getString(0) == inc && r.isNullAt(1))
      assert(markers.length === 1, s"$inc marker rows")
      assert(markers.head.getLong(3) === keys.size.toLong, s"$inc total")
      val counters = lakeRows.filter(r => r.getString(0) == inc && !r.isNullAt(1))
      assert(counters.length <= k, s"$inc counter count")
      assert(counters.forall(_.getLong(2) > 0L), s"$inc counters strictly positive")
      assert(counters.forall(_.getLong(3) === keys.size.toLong), s"$inc counter totals")
    }
    // served result identical to the per-increment mgSketch lake
    val dirOld = java.nio.file.Files.createTempDirectory("graft_mg_grp_old").toString
    Seq(("a", incA), ("b", incB), ("c", incC)).foreach { case (inc, keys) =>
      Sketches.mgSketch(keys.toDF("key").repartition(5), col("key"), k, inc)
        .write.mode("append").parquet(dirOld)
    }
    val union = (incA ++ incB ++ incC).toDF("key")
    val gotGrouped = Sketches.heavyHittersFromSketches(union, col("key"), lake, k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val gotPerInc = Sketches.heavyHittersFromSketches(
      union, col("key"), spark.read.parquet(dirOld), k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotGrouped === gotPerInc)
    assert(gotGrouped.nonEmpty, "fixture has no heavy hitters — vacuous")
    // null keys excluded like frequentCandidates: totals must not count them
    val withNulls = (rows ++ Seq(("a", null: String), ("c", null: String)))
      .toDF("inc", "key")
    val lakeN = Sketches.mgSketchesByInc(withNulls, col("key"), col("inc"), k)
    val totals = lakeN.filter(col("item").isNull)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(totals("a") === incA.size.toLong && totals("c") === incC.size.toLong)
  }

  test("MG lake: empty and counter-free increments still contribute their totals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_empty").toString
    val k = 4
    // an EMPTY increment: marker row only, total 0
    Sketches.mgSketch(
      Seq.empty[String].toDF("key"), col("key"), k, "empty")
      .write.mode("append").parquet(dir)
    // a diffuse increment (500 distinct keys through 4 counters): its
    // few surviving counters matter less than its TOTAL, which raises
    // the global threshold — losing it would over-flag
    Sketches.mgSketch(
      (1 to 500).map(i => s"u$i").toDF("key"), col("key"), k, "diffuse")
      .write.mode("append").parquet(dir)
    // a hot increment
    val hot = Seq.fill(400)("dominant") ++ (1 to 50).map(i => s"h$i")
    Sketches.mgSketch(hot.toDF("key"), col("key"), k, "hot")
      .write.mode("append").parquet(dir)
    val mg = Sketches.mgMergeSketches(spark.read.parquet(dir), k)
    assert(mg.total === 0 + 500 + hot.size)
    val union = (1 to 500).map(i => s"u$i") ++ hot
    val got = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(dir), k)
      .collect().map(_.getString(0)).toSeq
    // only "dominant" (400) exceeds 950/5 = 190
    assert(got === Seq("dominant"))
  }

  test("merged MG counters underestimate true counts by at most total/(k+1)") {
    val k = 10
    val incs = Seq(
      zipfKeys(80, 400),
      zipfKeys(60, 350).map(identity), // overlapping key space
      Seq.fill(120)("k2") ++ zipfKeys(40, 200))
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_bound").toString
    incs.zipWithIndex.foreach { case (keys, i) =>
      Sketches.mgSketch(keys.toDF("key"), col("key"), k, s"i$i")
        .write.mode("append").parquet(dir)
    }
    val mg = Sketches.mgMergeSketches(spark.read.parquet(dir), k)
    val union = incs.flatten
    assert(mg.total === union.size)
    val truth = union.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = union.size.toDouble / (k + 1)
    mg.candidates.zip(mg.counts).foreach { case (item, c) =>
      val t = truth(item)
      assert(c <= t, s"$item: merged counter $c exceeds true count $t")
      assert(t - c <= bound, s"$item: underestimate ${t - c} beyond bound $bound")
    }
  }

  test("MG lake survives an at-least-once replayed increment (same label, different summary)") {
    // foreachBatch is at-least-once on recovery: a replayed batch
    // re-appends its increment under the SAME label, possibly with a
    // DIFFERENT (but valid) counter set from a different partition
    // merge order. The per-(inc, item) max dedup must keep totals AND
    // counters sound — naive summing inflates the (k+1)-th-largest
    // subtraction and can evict a true heavy hitter.
    val k = 8
    val inc1 = Seq.fill(200)("hot") ++ zipfKeys(60, 150)
    val inc2 = Seq.fill(90)("hot2") ++ (1 to 80).map(i => s"z$i")
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_replay").toString
    Sketches.mgSketch(inc1.toDF("key").repartition(3), col("key"), k, "b0")
      .write.mode("append").parquet(dir)
    Sketches.mgSketch(inc2.toDF("key"), col("key"), k, "b1")
      .write.mode("append").parquet(dir)
    // the replay: b0 lands AGAIN, from a different partitioning
    Sketches.mgSketch(inc1.toDF("key").repartition(7), col("key"), k, "b0")
      .write.mode("append").parquet(dir)
    val union = inc1 ++ inc2 // the TRUE stream content — b0 happened once
    val mg = Sketches.mgMergeSketches(spark.read.parquet(dir), k)
    assert(mg.total === union.size, "replayed increment double-counted the total")
    val truth = union.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = union.size.toDouble / (k + 1)
    mg.candidates.zip(mg.counts).foreach { case (item, c) =>
      assert(c <= truth(item), s"$item: merged counter $c exceeds true ${truth(item)}")
    }
    val got = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(dir), k)
      .collect().map(_.getString(0)).toSeq
    val brute = truth.filter(_._2.toDouble > bound)
      .toSeq.sortBy { case (key2, c) => (-c, key2) }.map(_._1)
    assert(got === brute)
  }

  test("MG marker is null-item: sentinel-valued data keys keep counters") {
    val k = 4
    // the sentinel string markers once used (contains a NUL byte)
    val sentinel = "\u0000__mg_total__"
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_marker").toString
    // an increment whose hot key IS that sentinel string — the
    // collision the null-item marker exists to survive
    val incNew = Seq.fill(300)(sentinel) ++ (1 to 40).map(i => s"n$i")
    Sketches.mgSketch(incNew.toDF("key"), col("key"), k, "new")
      .write.mode("append").parquet(dir)
    val newRows = spark.read.parquet(dir)
    assert(newRows.filter(col("item").isNull).count() === 1L, "the marker must be the null item")
    assert(newRows.filter(col("item") === sentinel && col("cnt") === 0L).count() === 0L,
      "lakes must not write a sentinel marker")
    assert(newRows.filter(col("item") === sentinel && col("cnt") > 0L).count() === 1L,
      "the sentinel-valued DATA key must hold a counter row")
    val mg = Sketches.mgMergeSketches(newRows, k)
    assert(mg.total === incNew.size)
    assert(mg.candidates.contains(sentinel), "sentinel-valued data key lost its counter")
    // end-to-end: the corpus flags the sentinel-valued hot key
    val got = Sketches.heavyHittersFromSketches(
      incNew.toDF("key"), col("key"), spark.read.parquet(dir), k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq((sentinel, 300L)))
    // compaction keeps the null-marker form and every answer
    Sketches.compactMgLake(spark, dir, k)
    val rows = spark.read.parquet(dir)
    assert(rows.filter(col("item").isNull).count() === 1L)
    assert(rows.filter(col("item") === sentinel && col("cnt") === 0L).count() === 0L)
    val after = Sketches.mgMergeSketches(rows, k)
    assert(after.total === mg.total)
    assert(after.candidates.contains(sentinel))
  }

  test("compactMgLake: one increment replaces many, answers unchanged, appends still merge") {
    val k = 10
    val incs = Seq(
      Seq.fill(300)("big") ++ zipfKeys(50, 150),
      Seq.fill(120)("mid") ++ (1 to 200).map(i => s"t$i"),
      zipfKeys(70, 220))
    val dir = java.nio.file.Files.createTempDirectory("graft_mg_compact").toString + "/lake"
    incs.zipWithIndex.foreach { case (keys, i) =>
      Sketches.mgSketch(keys.toDF("key"), col("key"), k, s"i$i")
        .write.mode("append").parquet(dir)
    }
    val union = incs.flatten
    val before = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(dir), k).collect().toSeq
    Sketches.compactMgLake(spark, dir, k)
    val after = Sketches.heavyHittersFromSketches(
      union.toDF("key"), col("key"), spark.read.parquet(dir), k).collect().toSeq
    assert(after === before)
    // compacted lake is ONE increment: ≤ k+1 rows, one data file
    assert(spark.read.parquet(dir).count() <= k + 1)
    // appending a fresh increment to the compacted lake keeps the
    // GLOBAL guarantee (linear error addition across the compact)
    val inc4 = Seq.fill(500)("late_hot") ++ (1 to 100).map(i => s"l$i")
    Sketches.mgSketch(inc4.toDF("key"), col("key"), k, "i4")
      .write.mode("append").parquet(dir)
    val union2 = union ++ inc4
    val got = Sketches.heavyHittersFromSketches(
      union2.toDF("key"), col("key"), spark.read.parquet(dir), k)
      .collect().map(_.getString(0)).toSeq
    val n2 = union2.size
    val brute = union2.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2.toDouble > n2.toDouble / (k + 1))
      .toSeq.sortBy { case (key, c) => (-c, key) }.map(_._1)
    assert(got === brute)
    assert(brute.contains("late_hot"))
  }

  test("compactSampleLake: bit-identical estimates before/after, appends still bit-exact") {
    val k = 16
    val rows = (1 to 600).map(i => ("g", i.toLong, (i * 11 % 300).toLong))
    val df = rows.toDF("key", "id", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_qs_compact").toString + "/lake"
    Seq((1, 200), (201, 400)).foreach { case (lo, hi) =>
      Sketches.pairSampleByKey(
        df.filter(col("id") >= lo && col("id") <= hi),
        col("key"), col("id"), col("v"), k)
        .write.mode("append").parquet(dir)
    }
    val qs = Seq(0.5, 0.9)
    def estimates() = Sketches.quantilesFromSample(
      Sketches.mergePairSamples(spark.read.parquet(dir), k), qs)
      .orderBy("key").collect().toSeq
    val before = estimates()
    Sketches.compactSampleLake(spark, dir, k)
    assert(estimates() === before)
    // a post-compaction increment still reconstructs the one-shot
    Sketches.pairSampleByKey(
      df.filter(col("id") >= 401), col("key"), col("id"), col("v"), k)
      .write.mode("append").parquet(dir)
    val oneShot = Sketches.sampleQuantilesByKey(
      df, col("key"), col("id"), col("v"), k, qs)
      .orderBy("key").collect().toSeq
    assert(estimates() === oneShot)
  }

  test("compaction refuses a k narrower than the lake was built with") {
    val base = java.nio.file.Files.createTempDirectory("graft_narrow").toString
    val mgDir = base + "/mg"
    Sketches.mgSketch(zipfKeys(50, 200).toDF("key"), col("key"), 16, "i0")
      .write.mode("append").parquet(mgDir)
    val e1 = intercept[IllegalArgumentException] {
      Sketches.compactMgLake(spark, mgDir, 8)
    }
    assert(e1.getMessage.contains("narrower"))
    val qDir = base + "/qs"
    Sketches.pairSampleByKey(
      (1 to 100).map(i => ("g", i.toLong, i.toLong)).toDF("key", "id", "v"),
      col("key"), col("id"), col("v"), 32)
      .write.mode("append").parquet(qDir)
    val e2 = intercept[IllegalArgumentException] {
      Sketches.compactSampleLake(spark, qDir, 16)
    }
    assert(e2.getMessage.contains("narrower"))
    // at the ingest k both still work
    Sketches.compactMgLake(spark, mgDir, 16)
    Sketches.compactSampleLake(spark, qDir, 32)
  }

  test("pairSampleByKey excludes null keys (GROUP BY stratum semantics)") {
    val df = Seq(
      (Some("a"), 1L, 10L), (Some("a"), 2L, 20L), (Option.empty[String], 3L, 30L))
      .toDF("key", "id", "v")
    val out = Sketches.sampleQuantilesByKey(
      df, col("key"), col("id"), col("v"), k = 8, qs = Seq(0.5))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("a", 2L)))
  }

  test("sketch-lake compaction refuses a parked crashed-swap tree") {
    val base = java.nio.file.Files.createTempDirectory("graft_parked").toString
    val dir = base + "/lake"
    Sketches.mgSketch(Seq("a", "a", "b").toDF("key"), col("key"), 4, "i0")
      .write.mode("append").parquet(dir)
    val parked = new java.io.File(base + "/lake__compact_old")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-0.parquet"), "x")
    val e1 = intercept[RuntimeException] {
      Sketches.compactMgLake(spark, dir, 4)
    }
    assert(e1.getMessage.contains("parked"))
    val e2 = intercept[RuntimeException] {
      Sketches.compactSampleLake(spark, dir, 4)
    }
    assert(e2.getMessage.contains("parked"))
  }

  // -------------------- bottom-k sample quantiles -------------------- //

  test("groups under k are exact: quantiles equal nearest-rank over the full group") {
    // 41 values 0..400 step 10, shuffled; k = 64 keeps them all
    val vals = scala.util.Random.shuffle((0 to 40).map(_ * 10L).toList)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("key", "id", "v")
    val r = Sketches.sampleQuantilesByKey(
      df, col("key"), col("id"), col("v"), k = 64,
      qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)).head()
    assert(r.getLong(1) === 41L) // n
    assert(r.getInt(2) === 41)   // m_sample == n: nothing sampled away
    // nearest-rank-lower on the full sorted set: index floor(q*40)
    assert(r.getLong(3) === 100L) // p25: floor(.25*40)=10 → 100
    assert(r.getLong(4) === 200L) // p50
    assert(r.getLong(5) === 300L) // p75
    assert(r.getLong(6) === 360L) // p90
    assert(r.getLong(7) === 390L) // p99: floor(.99*40)=39 → 390
  }

  test("sampled quantiles land within DKW rank error at k=256 over 10k skewed values") {
    // skewed (quadratic) distribution so equal-rank ≠ equal-value;
    // true rank of each estimate must sit within ±3·√(1/(2k))·n
    val n = 10000
    val vals = (1 to n).map(i => (i.toLong * i.toLong) / 1000L)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("key", "id", "v").repartition(17)
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val r = Sketches.sampleQuantilesByKey(
      df, col("key"), col("id"), col("v"), k = 256, qs = qs).head()
    val sorted = vals.sorted
    val eps = 3.0 * math.sqrt(1.0 / (2 * 256)) // ≈ 0.13
    qs.zipWithIndex.foreach { case (q, i) =>
      val est = r.getLong(3 + i)
      // rank range of est among the true values (ties included)
      val lo = sorted.indexWhere(_ >= est).toDouble / n
      val hi = (sorted.lastIndexWhere(_ <= est) + 1).toDouble / n
      assert(lo - eps <= q && q <= hi + eps,
        s"p${(q * 100).round}: estimate $est has true rank [$lo,$hi], q=$q beyond ±$eps")
    }
  }

  test("fractional value columns are refused loudly, not silently floored") {
    val df = Seq(("g", 1L, 1.5)).toDF("key", "id", "v")
    val e = intercept[IllegalArgumentException] {
      Sketches.sampleQuantilesByKey(
        df, col("key"), col("id"), col("v"), k = 8, qs = Seq(0.5))
    }
    assert(e.getMessage.contains("integer-valued"))
    assert(e.getMessage.contains("Money.cents"), "remedy must name the fix")
  }

  test("persisted sample lake: merged pair samples equal the one-shot bit-for-bit") {
    // row-disjoint increments with uneven sizes and keys missing from
    // some increments; merged ≡ one-shot is the semilattice claim the
    // q27 oracle leans on
    val rows = (1 to 900).map(i =>
      (if (i % 3 == 0) "a" else "b", i.toLong, (i * 13 % 500).toLong))
    val df = rows.toDF("key", "id", "v")
    val k = 32
    val dir = java.nio.file.Files.createTempDirectory("graft_qs_lake").toString
    // increments: id ranges (1-100 has only a sliver of key "a")
    Seq((1, 100), (101, 500), (501, 900)).foreach { case (lo, hi) =>
      Sketches.pairSampleByKey(
        df.filter(col("id") >= lo && col("id") <= hi),
        col("key"), col("id"), col("v"), k)
        .write.mode("append").parquet(dir)
    }
    val qs = Seq(0.25, 0.5, 0.9)
    val merged = Sketches.quantilesFromSample(
      Sketches.mergePairSamples(spark.read.parquet(dir), k), qs)
      .orderBy("key").collect().toSeq
    val oneShot = Sketches.sampleQuantilesByKey(
      df, col("key"), col("id"), col("v"), k, qs)
      .orderBy("key").collect().toSeq
    assert(merged === oneShot) // includes sample_fp: every pair pinned
  }

  test("sample is a pure function of the data: identical across partitioning, fp included") {
    val vals = (1 to 500).map(i => ("g", i.toLong, (i * 7 % 90).toLong))
    val a = Sketches.sampleQuantilesByKey(
      vals.toDF("key", "id", "v").repartition(1),
      col("key"), col("id"), col("v"), k = 64, qs = Seq(0.5, 0.9)).collect().toSeq
    val b = Sketches.sampleQuantilesByKey(
      vals.toDF("key", "id", "v").repartition(23),
      col("key"), col("id"), col("v"), k = 64, qs = Seq(0.5, 0.9)).collect().toSeq
    assert(a === b)
    assert(a.head.getInt(2) === 64) // sampled path actually exercised
  }

  // ------------------------------------------------------------------ //
  // HyperLogLog                                                        //
  // ------------------------------------------------------------------ //

  test("HLL sketch: register shape, duplicate insensitivity, partitioning invariance") {
    val base = (1 to 300).map(i => ("g", s"v_$i"))
    val withDups = base ++ base.take(150) ++ base.take(50)
    def regs(rows: Seq[(String, String)], parts: Int): Seq[Int] =
      Sketches.hllSketchByKey(
        rows.toDF("key", "v").repartition(parts), col("key"), col("v"), p = 6)
        .select("regs").head.getSeq[Int](0)
    val r1 = regs(base, 1)
    // 64 registers, each 0..55 (54-bit rest + 1)
    assert(r1.size === 64 && r1.forall(r => r >= 0 && r <= 55))
    // registers are a pure function of the value SET
    assert(regs(withDups, 7) === r1)
    assert(regs(base, 23) === r1)
    intercept[IllegalArgumentException](
      Sketches.hllSketchByKey(base.toDF("key", "v"), col("key"), col("v"), p = 3))
  }

  test("HLL merge: element-wise max of per-half sketches EQUALS the whole-corpus sketch") {
    val all = (1 to 4000).map(i => ("g", s"val_$i"))
    // overlapping halves — idempotence under max is part of the claim
    val halves =
      Sketches.hllSketchByKey(
        all.take(2500).toDF("key", "v"), col("key"), col("v"), p = 6)
        .union(Sketches.hllSketchByKey(
          all.drop(1500).toDF("key", "v"), col("key"), col("v"), p = 6))
    val merged = Sketches.hllMergeSketches(halves, col("key"), col("regs"), p = 6)
      .select("regs").head.getSeq[Int](0)
    val whole = Sketches.hllSketchByKey(
      all.toDF("key", "v"), col("key"), col("v"), p = 6)
      .select("regs").head.getSeq[Int](0)
    assert(merged === whole) // bit-identical, not just same estimate
  }

  test("HLL estimate: raw branch within 3 standard errors at p=6 over 10k distincts") {
    val n = 10000
    val df = (1 to n).map(i => ("g", s"val_$i")).toDF("key", "v")
    val row = Sketches.hllDistinctByKey(df, col("key"), col("v"), p = 6)
      .select("v_zero", "est_micro").head
    val est = row.getLong(1) / 1e6
    val se = 1.04 / math.sqrt(64) // the paper's σ for the raw estimator
    assert(row.getLong(0) === 0L, "10k distincts must fill all 64 registers")
    assert(math.abs(est - n) / n <= 3 * se,
      s"HLL estimate $est vs $n exceeds 3x standard error (${3 * se})")
  }

  test("HLL one-pass aggregator (hllAgg) equals the two-stage sketch bit-for-bit; nulls excluded") {
    import graft.functions.Hashing
    // duplicated values, several keys, adversarial partitioning, nulls
    val rows = (1 to 900).map(i =>
      (s"k${i % 3}", if (i % 50 == 0) null else s"v_${i % 240}"))
    val df = rows.toDF("key", "v").repartition(13)
    val viaAgg = df
      .groupBy("key")
      .agg(Sketches.hllAgg(6)(Hashing.h60(col("v"))).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val viaStages = Sketches.hllSketchByKey(df, col("key"), col("v"), p = 6)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(viaAgg === viaStages)
    // all-null group: aggregator yields the zero sketch (the column
    // path drops the group entirely — its filter runs before groupBy)
    val nulls = Seq(("k", null: String)).toDF("key", "v")
    val z = nulls.groupBy("key")
      .agg(Sketches.hllAgg(6)(Hashing.h60(col("v"))).as("regs"))
      .head.getSeq[Int](1)
    assert(z === Seq.fill(64)(0))
  }

  test("HLL estimate: linear-counting branch engages at low load and tracks the count") {
    val n = 20
    val df = (1 to n).map(i => ("g", s"item_$i")).toDF("key", "v")
    val row = Sketches.hllDistinctByKey(df, col("key"), col("v"), p = 6)
      .select("v_zero", "est_micro").head
    val vZero = row.getLong(0)
    val est = row.getLong(1) / 1e6
    // LC is exact-ish at m≫n: occupied ≤ n registers, est = m·ln(m/V)
    assert(vZero >= (64 - n).toLong && vZero < 64L)
    assert(math.abs(est - 64.0 * math.log(64.0 / vZero)) <= 1e-6)
    assert(math.abs(est - n) / n <= 0.3, s"LC estimate $est vs $n")
  }

  // -------------------- HLL sketch lake -------------------- //

  private def msgChain(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgChain(t.getCause)

  test("compactHllLake: merged rows replace increments bit-identically; appends still merge one-shot-exact") {
    val all = (1 to 3000).map(i => (s"k${i % 2}", s"val_$i"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hll_lake").toString + "/lake"
    // three OVERLAPPING increments — idempotence under register max is
    // part of the compaction claim, not just disjoint-union merging
    Seq(all.take(1500), all.slice(1000, 2200), all.drop(2000)).foreach { inc =>
      Sketches.hllSketchByKey(inc.toDF("key", "v"), col("key"), col("v"), p = 6)
        .write.mode("append").parquet(dir)
    }
    def merged() = Sketches.hllMergeSketches(
      spark.read.parquet(dir), col("key"), col("regs"), p = 6)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val before = merged()
    Sketches.compactHllLake(spark, dir, p = 6)
    assert(merged() === before) // registers, not just estimates
    assert(spark.read.parquet(dir).count() === 2L, "one row per key post-compact")
    // a post-compaction increment still reconstructs the one-shot sketch
    val late = (3001 to 3600).map(i => (s"k${i % 2}", s"val_$i"))
    Sketches.hllSketchByKey(late.toDF("key", "v"), col("key"), col("v"), p = 6)
      .write.mode("append").parquet(dir)
    val oneShot = Sketches.hllSketchByKey(
      (all ++ late).toDF("key", "v"), col("key"), col("v"), p = 6)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(merged() === oneShot)
  }

  test("compactHllLake: wrong p and parked crash residue refuse; a crashed swap converges on rerun") {
    val base = java.nio.file.Files.createTempDirectory("graft_hll_guard").toString
    val dir = base + "/lake"
    Sketches.hllSketchByKey(
      (1 to 200).map(i => ("g", s"v$i")).toDF("key", "v"),
      col("key"), col("v"), p = 6)
      .write.mode("append").parquet(dir)
    // width gate: compacting a p=6 lake at p=5 would mis-index every register
    val ep = intercept[IllegalArgumentException](
      Sketches.compactHllLake(spark, dir, p = 5))
    assert(ep.getMessage.contains("registers"))
    // crash residue: a parked sibling holding files may be the lake's
    // only copy — refused loudly until recovered
    val parked = new java.io.File(dir + "__compact_old")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-0.parquet"), "x")
    val e = intercept[RuntimeException](Sketches.compactHllLake(spark, dir, p = 6))
    assert(e.getMessage.contains("parked"))
    java.nio.file.Files.deleteIfExists(parked.toPath.resolve("part-0.parquet"))
    assert(parked.delete())
    // crash BETWEEN the swap's two renames: root gone, lake parked,
    // intent journaled — the rerun restores the park and completes
    val before = merged6(dir)
    val intentF = new java.io.File(base + "/.lake__swap_intent")
    val oldF = new java.io.File(dir + "__compact_old")
    assert(new java.io.File(dir).renameTo(oldF))
    assert(intentF.createNewFile())
    Sketches.compactHllLake(spark, dir, p = 6)
    assert(merged6(dir) === before)
    assert(!oldF.exists() && !intentF.exists())
  }

  private def merged6(dir: String): Map[String, Seq[Int]] =
    Sketches.hllMergeSketches(
      spark.read.parquet(dir), col("key"), col("regs"), p = 6)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap

  test("hllMergeSketches refuses a mixed-p lake loudly (no silent null-padded merge)") {
    val ok = Sketches.hllSketchByKey(
      Seq(("g", "a")).toDF("key", "v"), col("key"), col("v"), p = 6)
    val alien = Sketches.hllSketchByKey(
      Seq(("g", "b")).toDF("key", "v"), col("key"), col("v"), p = 5)
    val e = intercept[Exception] {
      Sketches.hllMergeSketches(
        ok.union(alien), col("key"), col("regs"), p = 6).collect()
    }
    assert(msgChain(e).exists(_.contains("hllMergeSketches")), s"got: $e")
  }

  test("merge verbs refuse NULL sketch rows; hllEstimate refuses micro-unit overflow; quantile names must be distinct") {
    // a NULL regs/mins row is lake corruption no sketch verb writes —
    // its silent collect_list skip would quietly bias estimates (and
    // an all-null KMV key would die in element_at with an index error)
    val goodH = Sketches.hllSketchByKey(
      Seq(("g", "a")).toDF("key", "v"), col("key"), col("v"), p = 6)
    val nullRegs = Seq(("g", null: Seq[Int])).toDF("key", "regs")
    val e1 = intercept[Exception](
      Sketches.hllMergeSketches(
        goodH.unionByName(nullRegs), col("key"), col("regs"), p = 6).collect())
    assert(msgChain(e1).exists(_.contains("NULL register")), s"got: $e1")
    val goodK = Sketches.kmvSketchByKey(
      Seq(("g", "a")).toDF("key", "v"), col("key"), col("v"), k = 4)
    val nullMins = Seq(("g", null: Seq[Long])).toDF("key", "mins")
    val e2 = intercept[Exception](
      Sketches.kmvMergeSketches(
        goodK.unionByName(nullMins), col("key"), col("mins"), k = 4).collect())
    assert(msgChain(e2).exists(_.contains("NULL mins")), s"got: $e2")
    // micro-unit overflow: all-55 registers imply est ≈ 1.6e18 — the
    // long cast would silently clamp; must fail by name instead
    val hot = Seq(("g", Seq.fill(64)(55))).toDF("key", "regs")
    val e3 = intercept[Exception](Sketches.hllEstimate(hot, p = 6).collect())
    assert(msgChain(e3).exists(_.contains("micro-unit")), s"got: $e3")
    // a large-but-in-range estimate still reports
    val warm = Seq(("g", Seq.fill(64)(30))).toDF("key", "regs")
    assert(Sketches.hllEstimate(warm, p = 6)
      .select("est_micro").head.getLong(0) > 0L)
    // two fractions rounding to one percent name would emit duplicate
    // columns (0.999 and 1.0 → p100) — refused up front
    intercept[IllegalArgumentException](
      Sketches.quantilesFromSample(warm, Seq(0.999, 1.0)))
  }

  test("hllAgg refuses hashes outside the h60 contract loudly; -1 stays the null sentinel") {
    // a raw negative 64-bit hash (previously silently swallowed as the
    // sentinel — undercounting) and an over-wide hash (previously an
    // ArrayIndexOutOfBounds deep in a task) both fail by name
    Seq(-2L, 1L << 60).foreach { h =>
      val e = intercept[Exception] {
        Seq(("g", h)).toDF("key", "h").groupBy("key")
          .agg(Sketches.hllAgg(6)(col("h"))).collect()
      }
      assert(msgChain(e).exists(_.contains("h60 contract")), s"got: $e")
    }
    val z = Seq(("g", -1L)).toDF("key", "h").groupBy("key")
      .agg(Sketches.hllAgg(6)(col("h"))).head.getSeq[Int](1)
    assert(z === Seq.fill(64)(0))
  }
}
