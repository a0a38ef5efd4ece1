package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PageRank}

/** [[graft.operators.PageRank]] — integer fixed-point semantics pinned
  * against a hand-walked reference fold (same floor-division
  * arithmetic in plain Scala), dangling-mass redistribution, weighted
  * edges, input validation, and cross-partitioning determinism (the
  * property the integer design exists to buy; the g01 oracle repeats
  * the replay cross-engine at sf0.01).
  */
class PageRankSpec extends SparkSpecBase {

  import spark.implicits._

  private val Scale = 1000000000000L

  /** Plain-Scala replay of the operator's exact arithmetic. */
  private def reference(
      edges: Seq[(String, String, Long)], iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val base = Scale / n
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rank = nodes.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val in = edges
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map { case (s, _, w) => rank(s) * w / outW(s) }.sum
        }
      val dang = nodes.filterNot(outW.contains).map(rank).sum
      rank = nodes.map { v =>
        v -> ((100 - 85) * base / 100 +
          85 * (in.getOrElse(v, 0L) + dang / n) / 100)
      }.toMap
    }
    rank
  }

  /** Plain-Scala replay of [[PageRank.personalized]]'s exact
    * arithmetic: teleport + dangling mass over the seed set only.
    */
  private def referencePpr(
      edges: Seq[(String, String, Long)], seeds: Set[String],
      iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val sIn = nodes.filter(seeds.contains).toSet
    val nS = sIn.size.toLong
    val sBase = Scale / nS
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rank = nodes.map(v => v -> (if (sIn(v)) sBase else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map { case (s, _, w) => rank(s) * w / outW(s) }.sum
        }
      val dang = nodes.filterNot(outW.contains).map(rank).sum
      rank = nodes.map { v =>
        v -> (if (sIn(v))
          (100 - 85) * sBase / 100 +
            85 * (in.getOrElse(v, 0L) + dang / nS) / 100
        else 85 * in.getOrElse(v, 0L) / 100)
      }.toMap
    }
    rank
  }

  private def run(
      edges: Seq[(String, String, Long)], iters: Int,
      nPart: Int = 4): Map[String, Long] = Dedup.scoped {
    val df = edges.toDF("src", "dst", "w").repartition(nPart)
    PageRank.pageRank(df, col("src"), col("dst"), col("w"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def runPpr(
      edges: Seq[(String, String, Long)], seeds: Seq[String],
      iters: Int, nPart: Int = 4): Map[String, Long] = Dedup.scoped {
    val df = edges.toDF("src", "dst", "w").repartition(nPart)
    PageRank.personalized(df, col("src"), col("dst"), col("w"),
        seeds.toDF("node"), col("node"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("matches the hand-walked integer fold on a weighted digraph") {
    val edges = Seq(
      ("a", "b", 1L), ("a", "c", 3L), ("b", "c", 1L), ("c", "a", 1L))
    for (iters <- Seq(1, 3, 5)) {
      assert(run(edges, iters) === reference(edges, iters), s"iters=$iters")
    }
  }

  test("dangling node donates its mass uniformly (still sums near scale)") {
    // d has no out-edges: its rank must flow back via the dangling term
    val edges = Seq(("a", "b", 1L), ("b", "d", 1L), ("d2", "a", 1L),
      ("a", "d", 1L), ("b", "a", 1L))
    val got = run(edges, 3)
    assert(got === reference(edges, 3))
    // mass conservation up to floor losses: within edges+nodes units/iter
    val total = got.values.sum
    assert(total <= Scale && total >= Scale - 500L,
      s"mass leaked beyond floor losses: $total")
  }

  test("deterministic across partitionings (the integer-arithmetic contract)") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 120).map { _ =>
      (s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}", 1L + rnd.nextInt(9))
    }.distinct.map(e => (e._1, e._2, e._3.toLong))
    val a = run(edges, 3, nPart = 1)
    val b = run(edges, 3, nPart = 13)
    assert(a === b)
    assert(a === reference(edges, 3))
  }

  test("null endpoints and non-positive weights are rejected loudly") {
    val bad = Seq((Some("a"), Some("b"), 0L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      PageRank.pageRank(bad, col("src"), col("dst"), col("w"), 2)
    }
    val nullEnd = Seq((Option.empty[String], Some("b"), 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      PageRank.pageRank(nullEnd, col("src"), col("dst"), col("w"), 2)
    }
    intercept[IllegalArgumentException] {
      PageRank.pageRank(bad, col("src"), col("dst"), col("w"), 0)
    }
    // a non-numeric STRING weight long-casts to NULL — every other
    // probe term then evaluates NULL too, so only an explicit isNull
    // term catches it before SUM silently skips the edge
    val strW = Seq(("a", "b", "not-a-number"), ("b", "a", "2"))
      .toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      PageRank.pageRank(strW, col("src"), col("dst"), col("w"), 2)
    }
  }

  test("personalized: seeded replay match; no-trust-path nodes score exactly 0") {
    // d dangling (returns mass to SEEDS); x→y is a component with no
    // path from any seed
    val edges = Seq(
      ("a", "b", 1L), ("a", "c", 3L), ("b", "c", 1L), ("c", "a", 1L),
      ("b", "d", 2L), ("x", "y", 1L))
    val seeds = Seq("a", "b", "zzz-not-in-graph") // off-graph seed dropped
    for (iters <- Seq(1, 3, 5)) {
      val got = runPpr(edges, seeds, iters)
      assert(got === referencePpr(edges, Set("a", "b"), iters), s"iters=$iters")
      assert(got("x") === 0L && got("y") === 0L,
        "nodes unreachable from every seed must score exactly 0")
    }
    // determinism across partitionings, same as the standard variant
    assert(runPpr(edges, seeds, 3, nPart = 1) === runPpr(edges, seeds, 3, nPart = 7))
    // deep run through checkpoint boundaries exercises the literal-share path
    assert(runPpr(edges, seeds, 12) === referencePpr(edges, Set("a", "b"), 12))
  }

  test("personalized: randomized graphs match the replay across partitionings") {
    val rnd = new scala.util.Random(17)
    val edges = (1 to 140).map { _ =>
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}", 1L + rnd.nextInt(7))
    }.distinct.map(e => (e._1, e._2, e._3.toLong))
    val present = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val seeds = present.take(5) // deterministic: distinct preserves order
    val a = runPpr(edges, seeds, 3, nPart = 1)
    val b = runPpr(edges, seeds, 3, nPart = 11)
    assert(a === b)
    assert(a === referencePpr(edges, seeds.toSet, 3))
  }

  test("personalized: null seeds and seed sets disjoint from the graph are rejected") {
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      PageRank.personalized(edges, col("src"), col("dst"), col("w"),
        Seq("nope").toDF("node"), col("node"), 2)
    }
    intercept[IllegalArgumentException] {
      PageRank.personalized(edges, col("src"), col("dst"), col("w"),
        Seq(Option.empty[String], Some("a")).toDF("node"), col("node"), 2)
    }
  }

  test("a null annotation on entry to the loop is refused") {
    val e = intercept[IllegalArgumentException](PageRank.requireAnnotated(
      Seq(("a", Some(true)), ("b", Option.empty[Boolean])).toDF("node", "is_seed")))
    assert(e.getMessage.contains("is_seed"), e.getMessage)
    PageRank.requireAnnotated(Seq(("a", true), ("b", false)).toDF("node", "is_seed"))
    PageRank.requireAnnotated(Seq("a").toDF("node"))
  }

  test("tolUnits early exit is bit-identical to the fixed-iteration result at the exit point") {
    val edges = Seq(
      ("a", "b", 1L), ("a", "c", 3L), ("b", "c", 1L), ("c", "a", 1L),
      ("c", "d", 2L), ("d2", "a", 1L)) // d dangling
    val tol = 500000L // deltas straddle this between iters 13/14 on this graph
    // the replay decides the honest exit point: first iteration whose
    // max |rank - prev| falls to tol — lands inside (10, 50), past a
    // checkpoint boundary, before the fixed-iteration cap
    val k = (2 to 50).find { i =>
      val prev = reference(edges, i - 1)
      val cur = reference(edges, i)
      cur.keys.map(v => math.abs(cur(v) - prev(v))).max <= tol
    }.getOrElse(fail("tol never reached within 50 iterations — tune tol"))
    assert(k > 10 && k < 50, s"exit at $k should cross a checkpoint boundary and beat the cap")
    val got = Dedup.scoped {
      val df = edges.toDF("src", "dst", "w").repartition(4)
      PageRank.pageRank(df, col("src"), col("dst"), col("w"), iters = 50,
          tolUnits = tol)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(got === reference(edges, k),
      s"early exit must equal the fixed-iteration result at iteration $k")
    // and it genuinely exited early: ranks still drift past k
    assert(got !== reference(edges, 50),
      "ranks at the exit point should differ from the 50-iteration result")
    // personalized variant shares the loop, so only the tolUnits
    // pass-through needs pinning — a coarse tol exits in a few
    // iterations and keeps the check cheap
    val seeds = Seq("a", "b")
    val tolP = 60000000000L // first crossing at iter 7 (ppr deltas are non-monotone; both sides use first-crossing)
    val kp = (2 to 50).find { i =>
      val prev = referencePpr(edges, seeds.toSet, i - 1)
      val cur = referencePpr(edges, seeds.toSet, i)
      cur.keys.map(v => math.abs(cur(v) - prev(v))).max <= tolP
    }.getOrElse(fail("ppr tol never reached within 50 iterations — tune tol"))
    assert(kp < 10, s"coarse tol should exit fast, got $kp")
    val gotP = Dedup.scoped {
      val df = edges.toDF("src", "dst", "w").repartition(4)
      PageRank.personalized(df, col("src"), col("dst"), col("w"),
          seeds.toDF("node"), col("node"), iters = 50, tolUnits = tolP)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(gotP === referencePpr(edges, seeds.toSet, kp))
  }

  test("tolUnits sweep: early exit ≡ fixed-iteration replay at EVERY swept exit point (randomized graph)") {
    // the r14 test pins ONE tolerance per variant; this sweeps a ladder
    // of tolerances — derived from the replay's own delta sequence so
    // each lands a different exit iteration — across the checkpoint
    // cadence (10/20), pinning that early-exit ≡ fixed-iteration holds
    // at every exit point, not just the spec'd one
    val rnd = new scala.util.Random(29)
    val edges = (1 to 120).map { _ =>
      (s"n${rnd.nextInt(24)}", s"n${rnd.nextInt(24)}", (1L + rnd.nextInt(5)): Long)
    }.distinct
    val deltas = (2 to 50).map { i =>
      val prev = reference(edges, i - 1)
      val cur = reference(edges, i)
      i -> cur.keys.map(v => math.abs(cur(v) - prev(v))).max
    }
    // tolerances = the exact replay deltas at a ladder of iterations;
    // the honest exit is the FIRST crossing (deltas can be
    // non-monotone — both sides use first-crossing)
    val targets = Seq(3, 8, 12, 21)
    val realized = targets.map { t =>
      val tol = deltas.find(_._1 == t).get._2
      val k = deltas.find(_._2 <= tol).get._1
      val got = Dedup.scoped {
        val df = edges.toDF("src", "dst", "w").repartition(5)
        PageRank.pageRank(df, col("src"), col("dst"), col("w"), iters = 50,
            tolUnits = tol)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(got === reference(edges, k),
        s"tol=$tol (target iter $t) must equal the replay at exit iteration $k")
      k
    }
    // the sweep must genuinely span exit points on both sides of a
    // checkpoint boundary, or it pins nothing new
    assert(realized.distinct.size >= 3, s"sweep degenerated: exits $realized")
    assert(realized.max > 10 && realized.min < 10,
      s"sweep must straddle the checkpoint cadence, got exits $realized")
    // personalized shares the loop: two swept points (one per side of
    // the boundary) pin the tolUnits pass-through on the same graph
    val present = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val seeds = present.take(4)
    val deltasP = (2 to 50).map { i =>
      val prev = referencePpr(edges, seeds.toSet, i - 1)
      val cur = referencePpr(edges, seeds.toSet, i)
      i -> cur.keys.map(v => math.abs(cur(v) - prev(v))).max
    }
    Seq(4, 14).foreach { t =>
      val tol = deltasP.find(_._1 == t).get._2
      val k = deltasP.find(_._2 <= tol).get._1
      val got = Dedup.scoped {
        val df = edges.toDF("src", "dst", "w").repartition(5)
        PageRank.personalized(df, col("src"), col("dst"), col("w"),
            seeds.toDF("node"), col("node"), iters = 50, tolUnits = tol)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(got === referencePpr(edges, seeds.toSet, k),
        s"ppr tol=$tol (target iter $t) must equal the replay at exit iteration $k")
    }
  }

  test("deep runs: 50 iterations match the replay; checkpoint cadence bounds the plan") {
    val edges = Seq(
      ("a", "b", 1L), ("a", "c", 3L), ("b", "c", 1L), ("c", "a", 1L),
      ("c", "d", 2L), ("d2", "a", 1L)) // d dangling
    // correctness through five checkpoint boundaries (10,20,30,40,50)
    assert(run(edges, 50) === reference(edges, 50))
    // plan depth is bounded by the cadence, not by iters: the frames 7
    // iterations past their last checkpoint (17, 27) carry identical
    // analyzed-plan node counts — the per-iteration join template over
    // a checkpoint leaf — instead of growing with total iterations
    def planNodes(iters: Int): Int = Dedup.scoped {
      val df = edges.toDF("src", "dst", "w")
      val r = PageRank.pageRank(df, col("src"), col("dst"), col("w"), iters)
      r.collect() // materialize inside the scope (the scoped contract)
      var n = 0
      r.queryExecution.analyzed.foreach(_ => n += 1)
      n
    }
    val at17 = planNodes(17)
    val at27 = planNodes(27)
    assert(at17 === at27,
      s"plan grew across checkpoints: $at17 nodes at 17 iters vs $at27 at 27")
  }
}
