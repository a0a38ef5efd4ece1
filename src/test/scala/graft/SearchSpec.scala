package graft

import org.apache.spark.sql.functions._

/** Ranked retrieval: BM25 ([[graft.operators.Bm25]]), reciprocal-rank
  * fusion ([[graft.operators.Fusion]]), and filtered ANN (the
  * `eligible` parameter of the persisted-index query paths). The BM25
  * and RRF fixtures are hand-replayed in plain Scala with the exact
  * expression trees, so the asserts are `==` on longs — the same
  * bit-exactness contract the DuckDB oracles (r01/r02) enforce at
  * sf0.01.
  */
class SearchSpec extends SparkSpecBase {
  import spark.implicits._

  /** Plain-Scala replay of [[graft.operators.Bm25.searchTopK]]'s
    * scoring (StrictMath.log — Spark's Log expression uses StrictMath,
    * so `==` holds): doc -> score_micro for one query string.
    */
  private def bm25Expected(
      docs: Seq[(Long, String)], query: String,
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Long] = {
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toVector
    val dls = docs.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val n = docs.size
    val total = dls.values.sum
    val avgdl = total.toDouble / n.toDouble
    val qterms = toks(query).distinct
    val postings = for {
      (id, t) <- docs
      (term, tf) <- toks(t).groupBy(identity).map { case (w, v) => (w, v.size) }
      if qterms.contains(term)
    } yield (term, id, tf)
    val dfm = postings.groupBy(_._1).map { case (t, v) => t -> v.size }
    postings.groupBy(_._2).map { case (id, ps) =>
      id -> ps.map { case (term, _, tf) =>
        val df = dfm(term)
        val idf = StrictMath.log(1.0 + math.max((n.toDouble - df.toDouble) + 0.5, 0.5) / (df.toDouble + 0.5))
        val tfn = tf.toDouble * (k1 + 1.0) /
          (tf.toDouble + k1 * (1.0 - b + b * dls(id).toDouble / avgdl))
        math.round(idf * tfn * 1000000.0)
      }.sum
    }
  }

  test("BM25: scores bit-match a plain-Scala replay; ranking and truncation behave") {
    val docs = Seq(
      (1L, "red apple pie"),
      (2L, "red red banana"),
      (3L, "blue sky"),
      (4L, ""),
      (5L, "banana banana banana split"))
    val got = graft.operators.Bm25.searchTopK(
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
      Seq((0L, "red banana"), (1L, "nosuchterm")).toDF("q_id", "qtext"),
      col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // query 1 shares no term with any doc → zero rows for it
    assert(got.forall(_._1 == 0L), s"unmatched query produced rows: ${got.filter(_._1 == 1L).toSeq}")
    val expected = bm25Expected(docs, "red banana")
    val gotScores = got.map(r => r._2 -> r._4).toMap
    assert(gotScores == expected,
      s"score_micro mismatch:\n  got      $gotScores\n  expected $expected")
    // ranks follow (score desc, doc_id asc), dense from 1
    val byRank = got.sortBy(_._3)
    assert(byRank.map(_._3).toSeq == (1 to got.length),
      s"ranks not dense: ${byRank.map(_._3).toSeq}")
    assert(byRank.sliding(2).forall {
      case Array(a, b) => a._4 > b._4 || (a._4 == b._4 && a._2 < b._2)
      case _ => true
    }, s"rank order violates (score desc, doc_id asc): ${byRank.toSeq}")
    // doc 3 ("blue sky") and the empty doc share no query term → absent
    assert(!got.exists(r => r._2 == 3L || r._2 == 4L))
    // k truncation
    val top1 = graft.operators.Bm25.searchTopK(
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
      Seq((0L, "red banana")).toDF("q_id", "qtext"),
      col("q_id"), col("qtext"), k = 1)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(top1.toSeq == Seq((expected.maxBy { case (id, s) => (s, -id) }._1, 1)))
  }

  test("BM25 plan shape: broadcast semi-join vocab gate, no Window in the top-k tail") {
    val docs = Seq((1L, "red apple pie"), (2L, "red red banana")).toDF("doc_id", "text")
    val plan = graft.operators.Bm25.searchTopK(
      docs, col("doc_id"), col("text"),
      Seq((0L, "red banana")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 5)
      .queryExecution.executedPlan.toString
    // the postings gate must be a broadcast semi-join (the corpus-side
    // explode never shuffles unmatched tokens)...
    assert(plan.contains("LeftSemi"), s"no semi-join vocab gate in plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side join shuffled instead of broadcasting:\n$plan")
    // ...and the ranking tail is the k-buffer aggregator, not a Window
    // sort of the full candidate stream: the one Window is df's
    // unordered count per (q_id, term), below the per-document sum
    assert(plan.contains("topklongs"), s"no k-buffer top-k in the BM25 tail:\n$plan")
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    val dfCount = ("""Window \[count\(1\) windowspecdefinition\(q_id#\d+L, term#\d+, """ +
      """specifiedwindowframe\(RowFrame, unboundedpreceding\$\(\), unboundedfollowing\$\(\)\)\) """ +
      """AS df#\d+L\], \[q_id#\d+L, term#\d+\]""").r
    assert(windows.size == 1 && dfCount.findFirstIn(windows.head).isDefined,
      s"a Window other than df's count leaked into the BM25 plan:\n$plan")
  }

  test("phrase search: consecutive-token semantics, overlaps, repeated terms, ranking") {
    val docs = Seq(
      (1L, "red banana pie"),          // "red banana" x1
      (2L, "red, banana! red banana"), // x2 (punctuation falls out of the analyzer)
      (3L, "banana red"),              // reversed — no match
      (4L, "red and banana"),          // not consecutive — no match
      (5L, "gamma gamma gamma"),       // "gamma gamma" x2 (OVERLAPPING anchors)
      (6L, "gamma delta gamma"))       // no consecutive gamma pair
    val got = graft.operators.Bm25.phraseTopK(
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
      Seq((0L, "red banana"), (1L, "gamma gamma"), (2L, "absent phrase"))
        .toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == Set(
      (0L, 2L, 1, 2L), (0L, 1L, 2, 1L), // q0: doc2 (2 occurrences) beats doc1
      (1L, 5L, 1, 2L)),                 // q1: overlapping occurrences both count
      s"phrase results wrong: $got")
  }

  test("RRF: hand fixture — micro contributions, cross-leg sum, top-k order") {
    val leg1 = Seq((0L, 100L, 1), (0L, 200L, 2)).toDF("q_id", "doc_id", "rank")
    val leg2 = Seq((0L, 200L, 1), (0L, 300L, 2)).toDF("q_id", "doc_id", "rank")
    val got = graft.operators.Fusion.rrf(Seq(leg1, leg2), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val c61 = math.round(1000000.0 / 61.0) // rank 1
    val c62 = math.round(1000000.0 / 62.0) // rank 2
    // doc 200 appears rank2 in leg1 + rank1 in leg2 → sums; k=2 drops doc 300
    assert(got.toSeq == Seq((0L, 200L, 1, c62 + c61), (0L, 100L, 2, c61)),
      s"rrf mismatch: ${got.toSeq}")

    // weighted form: w=1 everywhere is BIT-identical to the plain rrf
    // (the path the r02/r06 oracles gate)...
    val w1 = graft.operators.Fusion.rrfWeighted(Seq((leg1, 1L), (leg2, 1L)), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(w1.toSeq == got.toSeq)
    // ...and a decisive leg1 weight flips the winner: doc 100 needs
    // w·(c61 − c62) > c61, i.e. w ≳ 62, before its single leg1-rank-1
    // hit beats doc 200's leg1-rank-2 + leg2-rank-1 pair
    val wBig = graft.operators.Fusion.rrfWeighted(Seq((leg1, 100L), (leg2, 1L)), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(wBig.toSeq == Seq(
      (0L, 100L, 1, 100 * c61),
      (0L, 200L, 2, 100 * c62 + c61)),
      s"weighted rrf: ${wBig.toSeq}")
  }

  test("lex index: build+add ≡ one-shot searchTopK bit-exact; pruned read; fail-loud sidecar") {
    val docs = Seq(
      (1L, "red apple pie"), (2L, "red red banana"), (3L, "blue sky"),
      (4L, ""), (5L, "banana banana banana split"), (6L, "apple sky red"),
      (7L, "pie crust"), (8L, "banana pie sky"))
    val ddf = docs.toDF("doc_id", "text")
    val qdf = Seq((0L, "red banana"), (1L, "sky pie")).toDF("q_id", "qtext")
    val oneShot = graft.operators.Bm25.searchTopK(
      ddf, col("doc_id"), col("text"), qdf, col("q_id"), col("qtext"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val path = java.nio.file.Files.createTempDirectory("graft_lex").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(
      ddf.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), path, nBuckets = 4)
    graft.operators.Bm25.addToLexIndex(
      spark, path, ddf.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"))
    val viaIndex = graft.operators.Bm25.queryLexIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 5)
    val got = viaIndex
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == oneShot,
      s"index search diverged from one-shot:\n  only index: ${got -- oneShot}\n  only one-shot: ${oneShot -- got}")
    assert(got.nonEmpty)
    // the posting read opens only the query vocab's bucket leaves
    val scans = scanRoots(viaIndex).filter(_.exists(_.contains(path)))
    assert(scans.nonEmpty && scans.forall(_.forall(_.contains("/postings/bucket="))),
      s"postings scan does not read bucket leaves only: $scans")
    // stats sidecar reflects the FULL corpus after the add (N and Σdl
    // drive idf/avgdl — a stale sidecar would skew every score)
    val st = spark.read.parquet(s"$path/stats").head()
    assert(st.getLong(0) == docs.size, s"n_docs ${st.getLong(0)} != ${docs.size}")
    val totalToks = docs.map(d => "[a-z0-9]+".r.findAllIn(d._2.toLowerCase).length.toLong).sum
    assert(st.getLong(1) == totalToks, s"total_tokens ${st.getLong(1)} != $totalToks")
    // a directory without the stats sidecar is not an index — loud refusal
    val bogus = java.nio.file.Files.createTempDirectory("graft_lex_bogus").toString
    intercept[Exception](graft.operators.Bm25.queryLexIndex(
      spark, bogus, qdf, col("q_id"), col("qtext"), k = 5))
    // compaction heals the add's small files without changing one bit
    // of any answer or the sidecar
    val statsBefore = spark.read.parquet(s"$path/stats").collect().toSeq
    val cstats = graft.operators.Bm25.compactLexIndex(spark, path)
    assert(cstats.nonEmpty && cstats.exists { case (_, s) => s.filesBefore > s.filesAfter },
      s"compaction merged nothing: $cstats")
    val afterCompact = graft.operators.Bm25.queryLexIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(afterCompact == oneShot, "compaction changed query results")
    assert(spark.read.parquet(s"$path/stats").collect().toSeq == statsBefore,
      "compaction touched the stats sidecar")
  }

  test("rebucketLexIndex: serves bit-identically at the new width, pruned, crash-window safe") {
    val docs = Seq(
      (1L, "red apple pie"), (2L, "red red banana"), (3L, "blue sky"),
      (4L, ""), (5L, "banana banana banana split"), (6L, "apple sky red"),
      (7L, "pie crust"), (8L, "banana pie sky"))
    val ddf = docs.toDF("doc_id", "text")
    val qdf = Seq((0L, "red banana"), (1L, "sky pie")).toDF("q_id", "qtext")
    val path = java.nio.file.Files.createTempDirectory("graft_lex_rb").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(
      ddf, col("doc_id"), col("text"), path, nBuckets = 2)
    def serve() = graft.operators.Bm25.queryLexIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 5)
    val before = serve()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val statsBefore = spark.read.parquet(s"$path/stats")
      .select("n_docs", "total_tokens").collect().toSeq
    // grow 2 → 16 buckets: layout changes, answers must not
    graft.operators.Bm25.rebucketLexIndex(spark, path, newBuckets = 16)
    val after = serve()
    assert(after.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet == before,
      "rebucketing changed query results")
    assert(spark.read.parquet(s"$path/stats")
      .select("n_docs", "total_tokens").collect().toSeq == statsBefore,
      "rebucketing changed corpus stats")
    assert(spark.read.parquet(s"$path/stats").head().getInt(2) == 16)
    // the lake really re-laid out, and pruning still fires on it
    val bucketDirs = new java.io.File(s"$path/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName)
    assert(bucketDirs.length > 2, s"lake not re-bucketed: ${bucketDirs.toSeq}")
    val scans = scanRoots(after).filter(_.exists(_.contains(path)))
    assert(scans.nonEmpty && scans.forall(_.forall(_.contains("/postings/bucket="))),
      s"rebucketed postings scan does not read bucket leaves only: $scans")
    // adds keep working at the new width (sidecar's n_buckets drives them)
    graft.operators.Bm25.addToLexIndex(
      spark, path, Seq((9L, "red crust")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    assert(serve().collect().nonEmpty)
    // a same-width call is a no-op: nothing rewritten, nothing left
    // beside the index (its crash windows are JournaledSwapSpec's)
    val ixPath = new org.apache.hadoop.fs.Path(path)
    val fs = ixPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def lakeFiles() = graft.etl.Compact.relFileNames(fs, ixPath)
    val layout = lakeFiles()
    graft.operators.Bm25.rebucketLexIndex(spark, path, newBuckets = 16)
    assert(lakeFiles() == layout, "a same-width rebucket rewrote the index")
    assert(new java.io.File(path).getParentFile.list().toSeq == Seq("ix"))

    // a crashed rebucket's parked root blocks every BM25 verb, as a
    // parked refit root blocks ANN: the park may hold the only copy
    val parked = new java.io.File(path + "__rebucket_old")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
    val e = intercept[IllegalArgumentException](serve().collect())
    assert(e.getMessage.contains("recover it before serving"), e.getMessage)
    intercept[IllegalArgumentException](graft.operators.Bm25.queryPhraseIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 5).collect())
    intercept[IllegalArgumentException](graft.operators.Bm25.addToLexIndex(
      spark, path, Seq((10L, "x")).toDF("doc_id", "text"), col("doc_id"), col("text")))
    intercept[IllegalArgumentException](graft.operators.Bm25.removeFromLexIndex(
      spark, path, Seq(9L).toDF("doc_id"), col("doc_id")))
    // file-less residue does not block
    java.nio.file.Files.delete(parked.toPath.resolve("part-stranded.parquet"))
    assert(serve().collect().nonEmpty)
  }

  test("lex index retention: remove(build+add) ≡ build-without; stats decremented") {
    val docs = Seq(
      (1L, "red apple pie"), (2L, "red red banana"), (3L, "blue sky"),
      (4L, ""), (5L, "banana banana banana split"), (6L, "apple sky red"),
      (7L, "pie crust"), (8L, "banana pie sky"))
    val ddf = docs.toDF("doc_id", "text")
    val qdf = Seq((0L, "red banana"), (1L, "sky pie")).toDF("q_id", "qtext")
    val victims = ddf.filter(col("doc_id") % 3 === 0) // 3, 6 — and the EMPTY doc stays
    val pRem = java.nio.file.Files.createTempDirectory("graft_lex_rem").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(
      ddf.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), pRem, nBuckets = 4)
    graft.operators.Bm25.addToLexIndex(
      spark, pRem, ddf.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"))
    graft.operators.Bm25.removeFromLexIndex(
      spark, pRem, victims, col("doc_id"))
    val pRef = java.nio.file.Files.createTempDirectory("graft_lex_ref").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(
      ddf.filter(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), pRef, nBuckets = 4)
    def res(p: String) = graft.operators.Bm25.queryLexIndex(
      spark, p, qdf, col("q_id"), col("qtext"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val rem = res(pRem)
    val ref = res(pRef)
    assert(rem == ref,
      s"remove diverged from build-without:\n  only rem: ${rem -- ref}\n  only ref: ${ref -- rem}")
    assert(rem.nonEmpty)
    assert(!rem.exists(r => r._2 == 3L || r._2 == 6L), "ghost victim served")
    // the EMPTY surviving doc (id 4) still counts in N — postings alone
    // could not have known; the text-shaped remove contract preserves it
    val st = spark.read.parquet(s"$pRem/stats").head()
    assert(st.getLong(0) == 6, s"n_docs ${st.getLong(0)} != 6 (victims 3,6 removed, empty doc kept)")
    // the rewrite is bucket-confined and clustered: at most one file
    // per surviving bucket dir (a bare partitionBy would fragment)
    val leafs = new java.io.File(s"$pRem/postings").listFiles().filter(_.getName.startsWith("bucket="))
    leafs.foreach { leaf =>
      val n = leaf.listFiles().count(f => f.getName.endsWith(".parquet"))
      assert(n <= 2, s"bucket ${leaf.getName} fragmented into $n files") // build+add files where untouched
    }
    // a parked __remove_old tree with files is a crashed swap — the
    // next remove must refuse, not destroy the only remaining copy
    val parked = new java.io.File(s"$pRem/postings__remove_old/bucket=0")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
    val e = intercept[IllegalArgumentException](graft.operators.Bm25.removeFromLexIndex(
      spark, pRem, ddf.filter(col("doc_id") === 7), col("doc_id")))
    assert(e.getMessage.contains("crashed mid-swap"), e.getMessage)
    // file-less residue is cleared and the remove proceeds
    java.nio.file.Files.delete(parked.toPath.resolve("part-stranded.parquet"))
    graft.operators.Bm25.removeFromLexIndex(
      spark, pRem, ddf.filter(col("doc_id") === 7), col("doc_id"))
    assert(!res(pRem).exists(_._2 == 7L), "victim 7 still served after recovery remove")
    // rebuildLexStats is the universal stats repair: recompute from the
    // surviving corpus text and compare exactly
    graft.operators.Bm25.rebuildLexStats(
      spark, pRem, ddf.filter(col("doc_id") % 3 =!= 0 && col("doc_id") =!= 7),
      col("doc_id"), col("text"))
    val st2 = spark.read.parquet(s"$pRem/stats").head()
    assert(st2.getLong(0) == 5, s"rebuilt n_docs ${st2.getLong(0)} != 5")
  }

  test("lex remove robustness: drifted victim text, unindexed victims, serving guard") {
    val docs = Seq((1L, "alpha beta beta beta"), (2L, "alpha delta"), (3L, "gamma gamma"))
    val ddf = docs.toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lex_rob").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), p, nBuckets = 4)
    def hits(term: String) = graft.operators.Bm25.queryLexIndex(
      spark, p, Seq((0L, term)).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits("beta") == Set(1L))
    // victim text DRIFTED from what was indexed (doc 1 was indexed with
    // 4 tokens, the caller supplies 2 different ones): affected buckets
    // come from the INDEX, so the beta postings still die — and the
    // stats decrement uses the INDEXED dl (4), not the supplied text's
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((1L, "alpha gamma")).toDF("doc_id", "text"), col("doc_id"))
    assert(hits("beta").isEmpty, "drifted victim text left a ghost posting")
    assert(hits("alpha") == Set(2L))
    val stDrift = spark.read.parquet(s"$p/stats").head()
    assert(stDrift.getLong(0) == 2, s"n_docs ${stDrift.getLong(0)} != 2")
    assert(stDrift.getLong(1) == 4, // 8 indexed tokens - doc1's INDEXED 4
      s"total_tokens ${stDrift.getLong(1)} != 4 -- decrement used the drifted text's dl")
    // removing a never-indexed id is a complete no-op: postings AND
    // stats (an unconditional decrement would corrupt N forever)
    val stBefore = spark.read.parquet(s"$p/stats").collect().toSeq
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((99L, "alpha zeta")).toDF("doc_id", "text"), col("doc_id"))
    assert(spark.read.parquet(s"$p/stats").collect().toSeq == stBefore,
      "unindexed victim decremented stats")
    assert(hits("alpha") == Set(2L))
    // a parked crashed-swap tree blocks SERVING too, not just the next
    // remove — a missing bucket dir would otherwise silently answer
    // with its terms absent. BOTH verbs' trees count: a crashed
    // COMPACTION parks at __compact_old, and the guard must see it
    for (tree <- Seq("postings__remove_old", "postings__compact_old")) {
      val parked = new java.io.File(s"$p/$tree/bucket=1")
      parked.mkdirs()
      java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
      val e = intercept[IllegalArgumentException](hits("alpha"))
      assert(e.getMessage.contains("recover it before serving"), e.getMessage)
      // the next remove refuses the same tree instead of cementing loss
      val e2 = intercept[Exception](graft.operators.Bm25.removeFromLexIndex(
        spark, p, Seq((2L, "alpha delta")).toDF("doc_id", "text"), col("doc_id")))
      assert(e2.getMessage.contains("recover"), e2.getMessage)
      java.nio.file.Files.delete(parked.toPath.resolve("part-stranded.parquet"))
    }
    assert(hits("alpha") == Set(2L), "file-less residue must not block serving")
  }

  test("hybridTopK: two persisted indexes ≡ one-shot BM25 + brute-force + RRF bit-exact") {
    val vecs = clusteredRows
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val texts = vecs.map { case (id, _) =>
      val c = (id / 100).toInt
      (id, s"${words(c)} ${words((c + 1) % 8)} doc")
    }
    val ddf = texts.toDF("doc_id", "text")
    val edf = vecs.toDF("vec_id", "embedding")
    val baseD = ddf.filter(col("doc_id") % 100 >= 5)
    val qD = ddf.filter(col("doc_id") % 100 < 5)
    val baseE = edf.filter(col("vec_id") % 100 >= 5)
    val qE = edf.filter(col("vec_id") % 100 < 5)
    // one-shot composition — the r02 pipeline shape
    val bm = graft.operators.Bm25.searchTopK(
      baseD, col("doc_id"), col("text"), qD, col("doc_id"), col("text"), k = 10)
      .select("q_id", "doc_id", "rank")
    val vec = graft.operators.Ann.knnBruteForce(
      baseE, col("vec_id"), col("embedding"), qE, col("vec_id"), col("embedding"), k = 10)
      .select(col("q_id"), col("b_id").as("doc_id"), col("rank"))
    val oneShot = graft.operators.Fusion.rrf(Seq(bm, vec), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // persisted composition: lex index (build+add lifecycle) + IVF
    // index queried exhaustively (nprobe = nlist) + the same fusion
    val lexPath = java.nio.file.Files.createTempDirectory("graft_hyb_lex").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(
      baseD.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), lexPath, nBuckets = 4)
    graft.operators.Bm25.addToLexIndex(
      spark, lexPath, baseD.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"))
    val annPath = java.nio.file.Files.createTempDirectory("graft_hyb_ann").toString + "/ix"
    graft.operators.Ann.buildIvfIndex(
      baseE, col("vec_id"), col("embedding"), annPath, nlist = 8)
    val q = qD.join(qE.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val got = graft.operators.Fusion.hybridTopK(
      spark, lexPath, annPath, q, col("doc_id"), col("text"), col("embedding"),
      k = 5, kPerLeg = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == oneShot,
      s"hybrid serving diverged from one-shot:\n  only served: ${got -- oneShot}\n  only one-shot: ${oneShot -- got}")
    assert(got.nonEmpty)
  }

  test("positional index: queryPhraseIndex ≡ one-shot phraseTopK bit-exact; pruned; legacy refuses") {
    val docs = Seq(
      (1L, "red banana pie"),
      (2L, "red, banana! red banana"),
      (3L, "banana red"),
      (4L, "red and banana"),
      (5L, "gamma gamma gamma"),
      (6L, "gamma delta gamma"),
      (7L, ""))
    val ddf = docs.toDF("doc_id", "text")
    val qdf = Seq((0L, "red banana"), (1L, "gamma gamma"), (2L, "absent phrase"))
      .toDF("q_id", "qtext")
    val oneShot = graft.operators.Bm25.phraseTopK(
      ddf, col("doc_id"), col("text"), qdf, col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    val path = java.nio.file.Files.createTempDirectory("graft_pos").toString + "/ix"
    // build(even) + add(odd) — the full lifecycle must serve the same
    // answer as one-shot over the whole corpus (the r05 oracle's claim)
    graft.operators.Bm25.buildLexIndex(
      ddf.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), path, nBuckets = 4)
    graft.operators.Bm25.addToLexIndex(
      spark, path, ddf.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"))
    val viaIndex = graft.operators.Bm25.queryPhraseIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 10)
    val got = viaIndex
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == oneShot,
      s"index phrase search diverged:\n  only index: ${got -- oneShot}\n  only one-shot: ${oneShot -- got}")
    assert(got.nonEmpty)
    // the postings read is partition-pruned to the phrase vocab's buckets
    val f = viaIndex.queryExecution.executedPlan.toString
    val pf = f.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("bucket")).getOrElse("")
    assert(pf.contains("bucket#") || pf.contains("bucket IN") || pf.contains("isnotnull(bucket"),
      s"phrase postings scan is not partition-pruned on bucket:\n$f")
    // BM25 serving from the SAME index must not pay for the positional
    // payload: the positions column is pruned out of its scan
    val bmPlan = graft.operators.Bm25.queryLexIndex(
      spark, path, Seq((0L, "red banana")).toDF("q_id", "qtext"),
      col("q_id"), col("qtext"), k = 5)
      .queryExecution.executedPlan.toString
    val rs = bmPlan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.nonEmpty && !rs.contains("positions"),
      s"BM25 serving reads the positions column:\n$rs")
    // removal discipline carries over to the positional payload: the
    // victim's occurrences disappear from phrase serving too
    graft.operators.Bm25.removeFromLexIndex(
      spark, path, ddf.filter(col("doc_id") === 2), col("doc_id"))
    val afterRemove = graft.operators.Bm25.queryPhraseIndex(
      spark, path, qdf, col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!afterRemove.contains((0L, 2L)), "removed doc still served by phrase index")
    assert(afterRemove.contains((0L, 1L)) && afterRemove.contains((1L, 5L)))
    // a pre-positional (legacy) postings lake refuses phrase serving
    // loudly — wrong anchors must not be silently computable
    val legacy = java.nio.file.Files.createTempDirectory("graft_pos_legacy").toString + "/ix"
    spark.read.parquet(s"$path/postings").drop("positions")
      .write.partitionBy("bucket").parquet(s"$legacy/postings")
    spark.read.parquet(s"$path/stats").coalesce(1).write.parquet(s"$legacy/stats")
    val e = intercept[IllegalArgumentException](graft.operators.Bm25.queryPhraseIndex(
      spark, legacy, qdf, col("q_id"), col("qtext"), k = 10))
    assert(e.getMessage.contains("pre-positional"), e.getMessage)
    // ...while BM25 serving on the same legacy lake still works
    assert(graft.operators.Bm25.queryLexIndex(
      spark, legacy, Seq((0L, "red banana")).toDF("q_id", "qtext"),
      col("q_id"), col("qtext"), k = 5).collect().nonEmpty)
  }

  test("idf clamp: understated stats (df > N crash window) degrade scores, never invert them") {
    val docs = Seq(
      (1L, "zzz alpha"), (2L, "zzz beta"), (3L, "zzz gamma"),
      (4L, "zzz delta"), (5L, "zzz epsilon"))
    val ddf = docs.toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lex_stale").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), p, nBuckets = 4)
    // simulate addToLexIndex's documented crash window: postings all
    // landed, stats refresh did NOT — understate N to 2 (df(zzz)=5 > N)
    val stale = Seq((2L, 4L, 4)).toDF("n_docs", "total_tokens", "n_buckets")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lex_stale_s").toString
    stale.coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/stats"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/stats"), new org.apache.hadoop.fs.Path(s"$p/stats")))
    val got = graft.operators.Bm25.queryLexIndex(
      spark, p, Seq((0L, "zzz")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    // pre-clamp: idf = ln(1 + (2-5+0.5)/5.5) < 0 — every score negative
    // and rankings inverted. With the clamp: smallest positive idf.
    assert(got.nonEmpty)
    assert(got.forall(_._2 > 0L),
      s"stale stats produced non-positive scores (negative-idf inversion): ${got.toSeq}")
    // and on CONSISTENT stats the clamp is the identity — rebuild and
    // compare against the one-shot search (which never had stale stats)
    graft.operators.Bm25.rebuildLexStats(spark, p, ddf, col("doc_id"), col("text"))
    val viaIndex = graft.operators.Bm25.queryLexIndex(
      spark, p, Seq((0L, "zzz")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    val oneShot = graft.operators.Bm25.searchTopK(
      ddf, col("doc_id"), col("text"),
      Seq((0L, "zzz")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(viaIndex == oneShot, "clamp changed scores on consistent stats")
  }

  test("empty-doc membership: never-indexed empty victim is a no-op; removal decrements exactly once") {
    val docs = Seq((1L, "alpha beta"), (2L, ""), (3L, "gamma"))
    val ddf = docs.toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lex_mem").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), p, nBuckets = 4)
    def stats() = spark.read.parquet(s"$p/stats").select("n_docs", "total_tokens")
      .head() match { case r => (r.getLong(0), r.getLong(1)) }
    assert(stats() == ((3L, 3L)))
    // the round-7 ADVICE hazard: a NEVER-indexed id with empty text
    // used to pass the trusted-empty branch and decrement N. The
    // membership record proves it was never indexed → complete no-op.
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((99L, "")).toDF("doc_id", "text"), col("doc_id"))
    assert(stats() == ((3L, 3L)), "never-indexed empty-text victim decremented stats")
    // an indexed-empty doc whose caller text DRIFTED to non-empty is
    // still counted (membership is consulted, not the caller's text) —
    // the residual blind spot of the trusted-text contract, closed
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((2L, "gained tokens later")).toDF("doc_id", "text"),
      col("doc_id"))
    assert(stats() == ((2L, 3L)), "indexed-empty victim with drifted text not decremented")
    // retrying the SAME remove decrements nothing: the membership
    // record was rewritten minus the victim before the sidecar
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((2L, "")).toDF("doc_id", "text"), col("doc_id"))
    assert(stats() == ((2L, 3L)), "re-removing an empty victim double-decremented")
    // lexIndexIds: the id surface unions postings and empty membership
    val idsAll = java.nio.file.Files.createTempDirectory("graft_lex_ids").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), idsAll, nBuckets = 4)
    assert(graft.operators.Bm25.lexIndexIds(spark, idsAll)
      .as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("empty-doc membership record parked by a crashed swap: id/stats readers and mutators refuse, serving continues") {
    val ddf = Seq((1L, "alpha beta"), (2L, ""), (3L, "gamma"), (4L, " -- "))
      .toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lex_park").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), p, nBuckets = 4)
    def ids() = graft.operators.Bm25.lexIndexIds(spark, p).as[Long].collect().toSet
    def serve() = graft.operators.Bm25.queryLexIndex(
      spark, p, Seq((0L, "alpha gamma")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def postingFiles() = graft.operators.Ann.listDataFiles(fs, s"$p/postings")
    val idsBefore = ids()
    val statsBefore = graft.operators.Bm25.lexIndexStats(spark, p)
    val served = serve()
    assert(idsBefore == Set(1L, 2L, 3L, 4L))
    assert(statsBefore.indexedEmpty == 2L)
    // a crash between Compact.swapInto's two renames: the record is
    // parked at empty__old and `empty` is absent
    val record = new java.io.File(s"$p/empty")
    val parked = new java.io.File(s"$p/empty__old")
    assert(record.renameTo(parked))
    def refuses(naming: String)(f: => Any)(
        implicit pos: org.scalactic.source.Position): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(naming), e.getMessage)
    }
    // read as "no empty docs" the ids would drop 2 and 4 (stream
    // ingest would re-index them) and a remove would skip their
    // decrement: every reader and mutator refuses instead
    refuses("empty__old")(graft.operators.Bm25.lexIndexIds(spark, p))
    refuses("empty__old")(graft.operators.Bm25.lexIndexStats(spark, p))
    refuses("empty__old")(graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((2L, "")).toDF("doc_id", "text"), col("doc_id")))
    val filesBefore = postingFiles()
    refuses("empty__old")(graft.operators.Bm25.addToLexIndex(
      spark, p, Seq((5L, "delta"), (6L, "")).toDF("doc_id", "text"), col("doc_id"), col("text")))
    assert(postingFiles() == filesBefore, "the refused add appended postings")
    assert(!record.exists, "the refused add created a partial membership record")
    // BM25 serving never reads the record
    assert(serve() == served)
    // with no parked copy the remedy named is the stats rebuild
    val aside = new java.io.File(s"$p/../empty_aside")
    assert(parked.renameTo(aside))
    refuses("rebuildLexStats")(graft.operators.Bm25.lexIndexIds(spark, p))
    assert(aside.renameTo(parked))
    // rename-back recovery restores the pre-crash ids and stats
    assert(parked.renameTo(record))
    assert(ids() == idsBefore)
    assert(graft.operators.Bm25.lexIndexStats(spark, p) == statsBefore)
    assert(serve() == served)
  }

  test("remove write-ahead intent: crash before the sidecar, retry converges to the one-remove state") {
    val ddf = Seq((1L, "alpha beta"), (2L, ""), (3L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft_lex_wal").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), p, nBuckets = 4)
    def stats() = spark.read.parquet(s"$p/stats").select("n_docs", "total_tokens")
      .head() match { case r => (r.getLong(0), r.getLong(1)) }
    def hits(term: String) = graft.operators.Bm25.queryLexIndex(
      spark, p, Seq((0L, term)).toDF("q_id", "qtext"), col("q_id"), col("qtext"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(stats() == ((3L, 5L)))
    // remove a PRESENT victim (3) and an INDEXED-EMPTY victim (2),
    // crashing in the worst window: postings swapped, membership
    // rewritten, stats sidecar NOT written
    val vic = Seq((3L, "gamma delta epsilon"), (2L, "")).toDF("doc_id", "text")
    intercept[IllegalStateException](graft.operators.Bm25.removeFromLexIndex(
      spark, p, vic, col("doc_id"), crashBeforeStatsSidecar = true))
    assert(new java.io.File(s"$p/remove_intent").exists, "intent missing after crash")
    assert(stats() == ((3L, 5L)), "sidecar should be stale in the crash window")
    assert(hits("gamma").isEmpty, "victim postings survived the pre-crash swap")
    // retrying the SAME remove resumes the intent first, then finds
    // nothing left to remove: stats converge to exactly ONE remove
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, vic, col("doc_id"))
    assert(stats() == ((1L, 2L)),
      "retry after crash-before-sidecar did not converge to the one-remove stats")
    assert(!new java.io.File(s"$p/remove_intent").exists, "intent not cleaned up")
    assert(hits("alpha") == Set(1L))
    // a THIRD run is a complete no-op (converged fixed point)
    graft.operators.Bm25.removeFromLexIndex(
      spark, p, vic, col("doc_id"))
    assert(stats() == ((1L, 2L)), "converged remove re-decremented")
    // other mutating verbs also resume a pending intent: crash a
    // remove of doc 1, then let an ADD complete it before its own work
    intercept[IllegalStateException](graft.operators.Bm25.removeFromLexIndex(
      spark, p, Seq((1L, "alpha beta")).toDF("doc_id", "text"),
      col("doc_id"), crashBeforeStatsSidecar = true))
    graft.operators.Bm25.addToLexIndex(
      spark, p, Seq((4L, "zeta eta")).toDF("doc_id", "text"), col("doc_id"), col("text"))
    assert(stats() == ((1L, 2L)),
      "add did not resume the pending remove before its own stats refresh")
    assert(hits("zeta") == Set(4L) && hits("alpha").isEmpty)
  }

  test("indexInventory: lifecycle observability cards from sidecars; rendered through the report") {
    val ddf = Seq((1L, "alpha beta"), (2L, ""), (3L, "gamma")).toDF("doc_id", "text")
    val lexP = java.nio.file.Files.createTempDirectory("graft_inv_lex").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(ddf, col("doc_id"), col("text"), lexP, nBuckets = 4)
    val annP = java.nio.file.Files.createTempDirectory("graft_inv_ann").toString + "/ix"
    graft.operators.Ann.buildIvfIndex(
      clusteredRows.toDF("vec_id", "embedding"), col("vec_id"), col("embedding"),
      annP, nlist = 8)
    val cards = graft.pipeline.HtmlReport.indexInventory(
      spark,
      annIndexes = Seq(("Vector Index", annP)),
      lexIndexes = Seq(("Lex Index", lexP)))
    assert(cards.size == 2, s"$cards")
    val ann = cards.find(_.label == "Vector Index").get
    assert(ann.value == "200", s"ANN occupancy card: $ann") // 8 clusters × 25
    assert(ann.sublabel.endsWith("/8 cells live"), s"$ann")
    val lex = cards.find(_.label == "Lex Index").get
    assert(lex.value == "3", s"lex n_docs card: $lex")
    assert(lex.sublabel == "3 tokens · 4 buckets · 1 empty", s"$lex")
    // the cards ride the standard report surface (golden fragment)
    val findings = Seq(("high", "process", "t", "r", "s"))
      .toDF("severity", "domain", "title", "resource", "source")
    val html = graft.pipeline.HtmlReport.render(
      findings, "Index report", inventory = cards)
    assert(html.contains("System Inventory"))
    assert(html.contains("Vector Index") &&
      html.contains("3 tokens · 4 buckets · 1 empty"), html.substring(0, 200))
  }

  test("queryIvfIndex withVec: identical results plus the embedding, pruned scans only") {
    val df = clusteredRows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_wv").toString + "/ix"
    graft.operators.Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), p, nlist = 8)
    val plain = graft.operators.Ann.queryIvfIndex(
      spark, p, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 2)
    val withVec = graft.operators.Ann.queryIvfIndex(
      spark, p, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 2, withVec = true)
    assert(withVec.columns.toSeq === Seq("q_id", "b_id", "rank", "sim", "b_emb"))
    val a = plain.orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val b = withVec.orderBy("q_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(a === b, "withVec changed the served ranking")
    // carried embeddings are the INDEXED vectors for those ids
    val embById = base.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    withVec.collect().foreach { r =>
      assert(r.getSeq[Float](4) === embById(r.getLong(1)))
    }
    // EVERY base scan reads only probed cell leaves (the withVec join
    // must not degrade its re-read into a full-lake scan)
    val scans = scanRoots(withVec).filter(_.exists(_.contains(p)))
    assert(scans.size >= 2 && scans.forall(_.forall(_.contains("/base/cell="))),
      s"expected two base scans of probed cell leaves only: $scans")
  }

  test("lex index: empty lake serves empty, rebuild is atomic-enough, add refuses parked trees") {
    import org.apache.spark.sql.functions.lit
    // (1) a postings lake with ZERO data files (all-empty-text corpus)
    // must serve empty results and an empty id surface, not crash on
    // parquet schema inference
    val emptyDocs = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val p1 = java.nio.file.Files.createTempDirectory("graft_lex_empty").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(emptyDocs, col("doc_id"), col("text"), p1, nBuckets = 4)
    val qdf = Seq((0L, "anything")).toDF("q_id", "qtext")
    assert(graft.operators.Bm25.queryLexIndex(
      spark, p1, qdf, col("q_id"), col("qtext"), 5).count() === 0)
    // the two empty-text docs ARE indexed (membership record) — the id
    // surface must report them without touching the fileless lake
    assert(graft.operators.Bm25.lexIndexIds(spark, p1)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // and rebucketing it moves only the width: an empty lake, the same
    // membership record
    graft.operators.Bm25.rebucketLexIndex(spark, p1, newBuckets = 8)
    assert(graft.operators.Bm25.lexIndexStats(spark, p1).nBuckets == 8)
    assert(graft.operators.Bm25.queryLexIndex(
      spark, p1, qdf, col("q_id"), col("qtext"), 5).count() === 0)
    assert(graft.operators.Bm25.lexIndexIds(spark, p1)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))

    // (2) an in-place REBUILD with different nBuckets serves correctly
    // (the old sidecar is invalidated before the lake is touched, so
    // no crash window can pair new postings with a stale prune)
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma delta"))
      .toDF("doc_id", "text")
    val p2 = java.nio.file.Files.createTempDirectory("graft_lex_rebuild").toString + "/ix"
    graft.operators.Bm25.buildLexIndex(docs, col("doc_id"), col("text"), p2, nBuckets = 4)
    graft.operators.Bm25.buildLexIndex(docs, col("doc_id"), col("text"), p2, nBuckets = 16)
    val hits = graft.operators.Bm25.queryLexIndex(
      spark, p2, Seq((0L, "gamma")).toDF("q_id", "qtext"), col("q_id"), col("qtext"), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hits === Set(2L, 3L), s"rebuilt index served $hits")

    // (3) a parked crashed-swap tree blocks the ADD verb like every
    // other mutation (an append over the recreated dir would collide
    // with the documented rename-back recovery)
    val parked = new java.io.File(s"$p2/postings__compact_old/bucket=1")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Bm25.addToLexIndex(
        spark, p2, Seq((9L, "epsilon zeta")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    assert(e.getMessage.contains("recover"), e.getMessage)
  }

  test("ANN index serving guard: a crashed-swap parked tree blocks queries loudly") {
    val df = clusteredRows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_guard").toString + "/ix"
    graft.operators.Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), p, nlist = 8)
    def q() = graft.operators.Ann.queryIvfIndex(
      spark, p, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 2).collect()
    assert(q().nonEmpty)
    val parked = new java.io.File(s"$p/base__remove_old/cell=0")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
    val e = intercept[IllegalArgumentException](q())
    assert(e.getMessage.contains("recover it before serving"), e.getMessage)
    java.nio.file.Files.delete(parked.toPath.resolve("part-stranded.parquet"))
    assert(q().nonEmpty, "file-less residue must not block serving")
  }

  test("refitIvfIndex: serving ≡ a fresh build at the new nlist; guards and crash windows") {
    import graft.operators.Ann
    val df = clusteredRows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_refit").toString
    val path = tmpRoot + "/ix"
    Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), path, nlist = 4)
    def serve(p: String) = graft.operators.Dedup.scoped {
      Ann.queryIvfIndex(spark, p, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    // refit 4 → 8 cells must serve exactly what a FRESH build at 8 does
    Ann.refitIvfIndex(spark, path, newNlist = 8)
    val fresh = tmpRoot + "/fresh8"
    Ann.buildIvfIndex(base, col("vec_id"), col("embedding"), fresh, nlist = 8)
    assert(serve(path) === serve(fresh), "refit diverged from a fresh build at the same nlist")
    // the codebook really is 8 cells now
    assert(spark.read.parquet(s"$path/codebook").count() === 8L)
    // park WITHOUT an intent: unrecognized — refit refuses, never deletes
    val parked = new java.io.File(tmpRoot + "/ix__refit_old")
    parked.mkdirs()
    java.nio.file.Files.writeString(parked.toPath.resolve("part-stranded.parquet"), "x")
    val e = intercept[IllegalArgumentException](Ann.refitIvfIndex(spark, path, 4))
    assert(e.getMessage.contains("recover"), e.getMessage)
    // serving refuses equally — the park may hold the only good copy
    val e2 = intercept[IllegalArgumentException](serve(path))
    assert(e2.getMessage.contains("recover"), e2.getMessage)
    java.nio.file.Files.delete(parked.toPath.resolve("part-stranded.parquet"))
    assert(serve(path).nonEmpty, "file-less residue must not block")
    // a quantized index refuses with the rebuild remedy named
    val sqPath = tmpRoot + "/sq"
    graft.operators.Sq.buildIvfSq8Index(
      base, col("vec_id"), col("embedding"), sqPath, nlist = 4)
    val e3 = intercept[IllegalArgumentException](Ann.refitIvfIndex(spark, sqPath, 8))
    assert(e3.getMessage.contains("Sq.buildIvfSq8Index"), e3.getMessage)
  }

  test("IVF codebook is a pure function of the rows: layout-independent fit") {
    import graft.operators.Ann
    val df = clusteredRows.toDF("vec_id", "embedding")
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val a = tmpRoot + "/a"
    val b = tmpRoot + "/b"
    Ann.buildIvfIndex(df, col("vec_id"), col("embedding"), a, nlist = 8)
    // same rows, violently different layout: many partitions, reversed
    Ann.buildIvfIndex(
      df.orderBy(desc("vec_id")).repartition(13),
      col("vec_id"), col("embedding"), b, nlist = 8)
    def cb(p: String) = spark.read.parquet(s"$p/codebook")
      .select("cell", "centroid_d").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    assert(cb(a) === cb(b),
      "codebook depends on source layout — the canonical sample order regressed")
  }

  private def clusteredRows: Seq[(Long, Array[Float])] = {
    val dim = 16
    def vec(cluster: Int, j: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(cluster * 2) = 1.0f
      a(cluster * 2 + 1) = 0.5f
      a((cluster + j) % dim) = a((cluster + j) % dim) + 0.05f * ((j % 5) + 1)
      a
    }
    for (c <- 0 until 8; j <- 0 until 25) yield (c.toLong * 100 + j, vec(c, j))
  }

  /** Strict left-fold cosine over float arrays — the Vectors.dot/norm2
    * arithmetic (double accumulator, elements widened one at a time).
    */
  private def cosExact(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(nb) * math.sqrt(na))
  }

  test("filtered IVF query: full eligible set ≡ unfiltered; predicate enforced; sims exact") {
    val df = clusteredRows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_filt").toString
    graft.operators.Ann.buildIvfIndex(
      base, col("vec_id"), col("embedding"), path, nlist = 8)
    def run(el: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column)]) =
      graft.operators.Ann.queryIvfIndex(
        spark, path, qs, col("vec_id"), col("embedding"), k = 5, nprobe = 2, eligible = el)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // an all-inclusive filter must not change a single bit
    val unf = run(None).toSet
    assert(run(Some((base, col("vec_id")))).toSet == unf)
    assert(unf.nonEmpty)
    // even-id filter: predicate enforced, ranks dense, sims true cosines
    val even = run(Some((base.filter(col("vec_id") % 2 === 0), col("vec_id"))))
    assert(even.nonEmpty)
    assert(even.forall(_._2 % 2 == 0), s"ineligible id served: ${even.filter(_._2 % 2 != 0).toSeq}")
    val embs = clusteredRows.toMap
    assert(even.forall { case (q, b, _, sim) => sim == cosExact(embs(b), embs(q)) },
      "filtered sim is not the exact strict-fold cosine")
    even.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks not dense for q=$q")
    }
    // PRE-filter, not post-filter: scoring restricted to eligible ids
    // must surface eligible neighbors that the unfiltered top-5 missed
    val unfEven = unf.filter(_._2 % 2 == 0).map(t => (t._1, t._2))
    val evenPairs = even.map(t => (t._1, t._2)).toSet
    assert((evenPairs -- unfEven).nonEmpty,
      "filtered search returned only the even survivors of the unfiltered top-k " +
        "(post-filter behavior) — expected deeper eligible neighbors")
  }

  test("filtered IVF-PQ query: predicate enforced on the compressed scan; rerank sims exact") {
    val df = clusteredRows.toDF("vec_id", "embedding")
    val base = df.filter(col("vec_id") % 100 >= 5)
    val qs = df.filter(col("vec_id") % 100 < 5)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_filt").toString
    graft.operators.Pq.buildIvfPqIndex(
      base, col("vec_id"), col("embedding"), path, nlist = 8, m = 8, kSub = 16)
    val got = graft.operators.Pq.queryIvfPqIndex(
      spark, path,
      base.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"),
      qs, col("vec_id"), col("embedding"),
      k = 5, nprobe = 2, shortlist = 20,
      eligible = Some((base.filter(col("vec_id") % 2 === 0), col("vec_id"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got.forall(_._2 % 2 == 0), s"ineligible id served: ${got.filter(_._2 % 2 != 0).toSeq}")
    val embs = clusteredRows.toMap
    assert(got.forall { case (q, b, _, sim) => sim == cosExact(embs(b), embs(q)) },
      "rerank sim is not the exact strict-fold cosine")
  }

  // ---- served batches resolved on the driver ≡ the one-shot verbs ----

  /** Corpus of the served-batch cases, its lexical index and its IVF
    * index (nlist 3): (doc_id, text, emb).
    */
  private lazy val batchFixture = {
    val docs = Seq(
      (1L, "the quick brown fox jumps", Array(1f, 0f, 0f, 0f)),
      (2L, "lazy dogs sleep all day", Array(0f, 1f, 0f, 0f)),
      (3L, "quick brown foxes and quick dogs", Array(0.9f, 0.1f, 0f, 0f)),
      (4L, "a completely unrelated document", Array(0f, 0f, 1f, 0f)),
      (5L, "brown bears eat honey", Array(0f, 0f, 0.9f, 0.1f)),
      (6L, "the fox den sits under the hill", Array(0.8f, 0f, 0.2f, 0f)),
      (7L, "quick quick brown fox den", Array(0.1f, 0.9f, 0f, 0.1f)),
      (8L, "honey bears den under the hill", Array(0f, 0.2f, 0.1f, 0.9f))
    ).toDF("doc_id", "text", "emb")
    val root = java.nio.file.Files.createTempDirectory("graft_batch").toString
    graft.operators.Bm25.buildLexIndex(docs, col("doc_id"), col("text"), s"$root/lex", nBuckets = 4)
    graft.operators.Ann.buildIvfIndex(docs, col("doc_id"), col("emb"), s"$root/ann", nlist = 3)
    (docs, s"$root/lex", s"$root/ann")
  }

  /** Rows of `df` as sorted strings: a null q_id compares too. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `batch` (q_id, q, vec) through each served verb equals its
    * one-shot twin: queryLexIndex ≡ searchTopK, queryPhraseIndex ≡
    * phraseTopK, queryIvfIndex ≡ knnIvf with the build's parameters.
    * Returns the lexical answer.
    */
  private def servedEqualsOneShot(batch: org.apache.spark.sql.DataFrame): Seq[String] = {
    val (docs, lex, ann) = batchFixture
    import graft.operators.{Ann, Bm25}
    val lexGot = rowsOf(Bm25.queryLexIndex(spark, lex, batch, col("q_id"), col("q"), k = 8))
    assert(lexGot == rowsOf(Bm25.searchTopK(
      docs, col("doc_id"), col("text"), batch, col("q_id"), col("q"), k = 8)), "lexical")
    assert(rowsOf(Bm25.queryPhraseIndex(spark, lex, batch, col("q_id"), col("q"), k = 8)) ==
      rowsOf(Bm25.phraseTopK(docs, col("doc_id"), col("text"), batch, col("q_id"), col("q"), k = 8)),
      "phrase")
    for (nprobe <- Seq(1, 3)) assert(
      rowsOf(Ann.queryIvfIndex(spark, ann, batch, col("q_id"), col("vec"), k = 3, nprobe = nprobe)) ==
        rowsOf(Ann.knnIvf(docs, col("doc_id"), col("emb"), batch, col("q_id"), col("vec"),
          k = 3, nlist = 3, nprobe = nprobe)), s"ann nprobe $nprobe")
    lexGot
  }

  /** Lexical (doc_id -> score_micro) of q_id `q` in `rows`. */
  private def scoresOf(rows: Seq[String], q: String): Map[String, String] =
    rows.map(_.split('|')).collect { case Array(`q`, d, _, s) => d -> s }.toMap

  test("served batch: queries sharing terms ≡ one-shot; each scores as if asked alone") {
    val batch = Seq((1L, "quick fox", Array(1f, 0f, 0f, 0f)),
      (2L, "fox den", Array(0f, 1f, 0f, 0f)),
      (3L, "quick brown fox", Array(0.5f, 0.5f, 0f, 0f))).toDF("q_id", "q", "vec")
    val got = servedEqualsOneShot(batch)
    // df is a corpus statistic: sharing a term with another query of
    // the batch changes no score
    for (i <- 1 to 3) assert(scoresOf(got, i.toString) ==
      scoresOf(servedEqualsOneShot(batch.filter(col("q_id") === i)), i.toString), s"query $i")
    assert(scoresOf(got, "3").nonEmpty)
  }

  test("served batch: a query with no analyzable term ≡ one-shot and answers nothing") {
    val alone = Seq((1L, "!!! ???", Array(1f, 0f, 0f, 0f))).toDF("q_id", "q", "vec")
    assert(servedEqualsOneShot(alone).isEmpty)
    val mixed = alone.unionByName(Seq((2L, "honey", Array(0f, 0f, 1f, 0f))).toDF("q_id", "q", "vec"))
    val got = servedEqualsOneShot(mixed)
    assert(scoresOf(got, "1").isEmpty && scoresOf(got, "2").nonEmpty)
  }

  test("served batch: a null q_id ≡ one-shot; lexical scores it, phrase and ann drop it") {
    val batch = Seq((Some(1L), "quick fox", Array(1f, 0f, 0f, 0f)),
      (None, "honey bears", Array(0f, 0f, 1f, 0f))).toDF("q_id", "q", "vec")
    val got = servedEqualsOneShot(batch)
    val named = servedEqualsOneShot(
      Seq((7L, "honey bears", Array(0f, 0f, 1f, 0f))).toDF("q_id", "q", "vec"))
    assert(scoresOf(got, "null").nonEmpty && scoresOf(got, "null") == scoresOf(named, "7"))
    val (_, lex, ann) = batchFixture
    assert(graft.operators.Bm25.queryPhraseIndex(spark, lex, batch, col("q_id"), col("q"), k = 8)
      .filter(col("q_id").isNull).isEmpty)
    assert(graft.operators.Ann.queryIvfIndex(spark, ann, batch, col("q_id"), col("vec"), k = 3, nprobe = 3)
      .filter(col("q_id").isNull).isEmpty)
  }

  test("served batch: duplicate q_ids ≡ one-shot; lexical sums the rows' scores") {
    val batch = Seq((1L, "quick fox", Array(1f, 0f, 0f, 0f)),
      (1L, "fox den", Array(0f, 0f, 0.9f, 0.1f)),
      (2L, "honey", Array(0f, 1f, 0f, 0f)),
      (2L, "honey", Array(0f, 1f, 0f, 0f))).toDF("q_id", "q", "vec")
    val got = servedEqualsOneShot(batch)
    val apart = servedEqualsOneShot(Seq((10L, "quick fox", Array(1f, 0f, 0f, 0f)),
      (11L, "fox den", Array(0f, 0f, 0.9f, 0.1f)), (12L, "honey", Array(0f, 1f, 0f, 0f)))
      .toDF("q_id", "q", "vec"))
    def plus(a: Map[String, String], b: Map[String, String]) =
      (a.keySet ++ b.keySet).map(d => d -> (a.getOrElse(d, "0").toLong + b.getOrElse(d, "0").toLong).toString).toMap
    assert(scoresOf(got, "1") == plus(scoresOf(apart, "10"), scoresOf(apart, "11")))
    assert(scoresOf(got, "2") == plus(scoresOf(apart, "12"), scoresOf(apart, "12")))
  }
}
