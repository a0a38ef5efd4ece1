package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a weighted directed edge list — the
  * link-graph authority score behind web-corpus quality weighting
  * (Page et al., "The PageRank Citation Ranking", 1999; Common-Crawl
  * curation pipelines rank hosts exactly this way before sampling) —
  * plus its seeded variant, [[personalized]] (Haveliwala,
  * "Topic-Sensitive PageRank", WWW 2002): teleport mass restricted to
  * a trusted seed set, the propagation behind "quality radiates from
  * vetted domains" curation scoring.
  *
  * ENTIRELY INTEGER ARITHMETIC, deliberately: ranks live in fixed-point
  * `scale` units and every per-edge contribution is `(rank·w) div
  * out_w` — floor division — so sums are associative and the result is
  * bit-identical regardless of partitioning, task order, or engine.
  * Float PageRank at cluster scale is nondeterministic across runs
  * (summation order); this one is replayable in SQL to the last unit.
  * The floor losses (< 1 unit per edge per iteration) leak mass, which
  * standard PageRank redistributes anyway via damping; scores are for
  * RANKING, and the discretization error is bounded by
  * edges/scale ≪ any rank gap that matters at scale = 1e12.
  *
  * Scale shape per iteration: one src-keyed equi-join of the rank
  * frame against the (cached) out-weighted edges, one dst-keyed
  * rollup, one anti-join rollup for dangling mass folded back through
  * a broadcast scalar — all shuffles on graph keys, nothing driver-
  * side but the plan. Each iteration's rank frame is cached and the
  * previous one released, and every 10th iteration the frame is
  * localCheckpoint'ed to a leaf — plan depth stays bounded by the
  * cadence at any iteration count (linear growth between checkpoints —
  * not the exponential self-join trap [[Dedup.groupPairs]] documents).
  *
  * Dangling nodes (no out-edges) donate their full rank to the
  * teleport distribution, the standard stochastic-matrix completion —
  * uniform over all nodes for [[pageRank]], uniform over SEEDS for
  * [[personalized]]. Damping is the rational `dampNum/dampDen`
  * (default 85/100) applied in integer form: `new =
  * ((dampDen−dampNum)·base) div dampDen + (dampNum·(in + dangShare))
  * div dampDen` where `base = scale div N` (standard, every node) or
  * `scale div |seeds|` (personalized, seeds only — non-seeds carry no
  * teleport term at all).
  *
  * Input edges: (src, dst, w) with w ≥ 1; null endpoints and
  * non-positive weights are rejected loudly (a silent drop would
  * change every score downstream). Output: (node, rank) in scale
  * units, one row per distinct endpoint.
  */
object PageRank {

  /** Validated, scope-cached graph frames shared by both variants.
    * `nodesF` carries the node set WITH its `__has_out` flag (does the
    * node emit any edge?) — one cached frame answers "all nodes", "the
    * dangling subset", and (joined) "the seeded subset", so prepare
    * never aggregates the edge list a second time just to ask who is
    * dangling (round-15 optimization: the old shape paid a separate
    * out-weight rollup + count for that answer).
    */
  private final case class Graph(
      nodesF: DataFrame, eW: DataFrame,
      n: Long, hasDangling: Boolean) {
    def nodes: DataFrame = nodesF.select("node")
    /** Nodes with no out-edges — the dangling set (empty frame when
      * `hasDangling` is false; callers gate on the flag).
      */
    def danglingNodes: DataFrame =
      nodesF.filter(!col("__has_out")).select("node")
  }

  private def prepare(
      edges: DataFrame, src: Column, dst: Column, w: Column,
      iters: Int, scale: Long, dampNum: Long, dampDen: Long): Graph = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(dampDen > 0 && dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < num < den, got $dampNum/$dampDen")
    // lower bound keeps ranks meaningfully quantized; upper bound keeps
    // the damping product dampNum·(in_r + share) ≤ dampNum·2·scale
    // inside a long — non-ANSI Spark would WRAP it silently
    require(scale >= 1000000L && scale <= Long.MaxValue / (2 * dampDen),
      s"scale must be in [1e6, Long.Max/(2*dampDen)], got $scale")

    // ONE cached edge frame serves the validity probe and every
    // iteration; w0 keeps the caller's original weight just long
    // enough for the fractional check (probing a separate uncached
    // projection would pay the whole upstream edge build twice).
    val eAll = Dedup.scopedCache(
      edges.select(src.as("src"), dst.as("dst"), w.as("w0"),
        w.cast("long").as("w")))
    // the per-edge contribution multiplies rank (≤ scale) by w — a
    // weight past Long.Max/scale would overflow the long SILENTLY on
    // the Spark side (DuckDB errors); refuse it in the same probe as
    // the null/sign check, along with FRACTIONAL weights (the long
    // cast would floor them silently — a score change, not a
    // convenience). Heavier real-world weights should be
    // pre-normalized (ranks are scale-free in the weights).
    val wLimit = Long.MaxValue / scale
    // col("w").isNull catches a non-null w0 whose LONG CAST nulls out
    // (e.g. a non-numeric string weight): with w NULL every other
    // predicate term evaluates NULL too, so without this term the row
    // would never enter badEdges and SUM would silently skip it in the
    // iterations — exactly the silent score change this probe forbids
    val badEdges = eAll.filter(
      col("src").isNull || col("dst").isNull || col("w0").isNull ||
        col("w").isNull ||
        col("w") <= 0 || col("w") > wLimit ||
        col("w").cast("double") =!= col("w0").cast("double"))
      .limit(1).count()
    require(badEdges == 0,
      s"pageRank: edges contain null endpoints, non-positive, " +
        s"fractional, or > $wLimit weights (rank*w must fit a long)")
    val e = eAll.drop("w0")

    // ONE union-rollup owns the node set AND the dangling answer: a
    // node is dangling iff it never appears as src, so max(flag) over
    // the src/dst union replaces the old distinct + out-weight-count
    // comparison (two aggregation passes → one; round-15 measurement:
    // the extra passes were ~0.6 s/query at sf0.1 and a full edge
    // shuffle each at cluster scale).
    val nodesF = Dedup.scopedCache(
      e.select(col("src").as("node"), lit(true).as("__has_out"))
        .unionByName(e.select(col("dst").as("node"), lit(false).as("__has_out")))
        .groupBy("node").agg(max("__has_out").as("__has_out")))
    val n = nodesF.count()
    require(n >= 1, "pageRank: edge list is empty (no nodes)")

    // Per-src total out-weight attached to the edges ONCE, as a WINDOW
    // over the cached edge frame — same integer sums as the old
    // groupBy+join, ONE reference to `e` instead of two (the printed/
    // analyzed plan halves under every downstream reference), and the
    // cached result comes out hash-partitioned by src, which is
    // exactly the partitioning every iteration's rank join wants. At
    // cluster scale the rollup+join alternative is strictly worse: the
    // per-src rollup is |V|-sized (not broadcastable), so the join
    // would pay two exchanges per materialization. Measured at sf0.1:
    // window 7.04+8.78 s vs rollup+join 7.67+8.90 s (g01+g02 subset
    // bench, same methodology).
    val eW = Dedup.scopedCache(e.withColumn("out_w",
      sum("w").over(Window.partitionBy("src"))))
    // Dangling nodes exist iff some node never appears as src. When
    // none do (e.g. symmetrized graphs), the dangling term is
    // identically 0 and its per-iteration semi-join + broadcast-scalar
    // fold (≈6 stages/iteration) is pure overhead — skip it. Result-
    // identical: a zero dangling share contributes nothing. The probe
    // is a limit-1 count on the already-cached node frame.
    val hasDangling =
      nodesF.filter(!col("__has_out")).limit(1).count() > 0
    Graph(nodesF, eW, n, hasDangling)
  }

  /** The shared iteration driver. `update(frame, shareSql)` builds one
    * round's (node, rank) from `frame` = nodes⟕inc (plus the broadcast
    * `dang` column when shareSql references it); `shareSql` is the
    * dangling-share fragment spliced into the integer update tree — ""
    * when the graph proves dangling-free, `shareBroadcast` (reads the
    * lazy 1-row `dang` column) for shallow runs, `shareLiteral(total)`
    * (a driver-fetched constant) for deep runs.
    *
    * All divisions in the update trees are integer `div` (SQL long
    * division): `/` on longs is DOUBLE division in Spark, and rank·w
    * reaches 1e18 — past 2^53, where doubles silently lose units and
    * the replay guarantee with it.
    *
    * All caching / lineage policy lives here so every variant inherits
    * the bounded-plan-depth guarantees (object doc; SCALE.md round-13).
    */
  private def loop(
      g: Graph, nodes: DataFrame, init: DataFrame, iters: Int,
      update: (DataFrame, String) => DataFrame,
      shareBroadcast: String,
      shareLiteral: Long => String,
      tolUnits: Long): DataFrame = {
    requireAnnotated(nodes)
    var ranks = Dedup.scopedCache(init)
    var converged = false
    // Deep runs: the rank plan grows one join template per iteration
    // (linear — not groupPairs' exponential self-join, but 50 stacked
    // join trees still mean O(iters) analyzer/optimizer work per
    // subsequent action). Every `ChkEvery` iterations the frame is
    // localCheckpoint'ed to a leaf (clean rebuild over the persisted
    // blocks — same cure and same Union-constraint caveat as
    // [[Dedup.groupPairs]]), so plan depth is bounded by the cadence
    // regardless of iters. The superseded checkpoint's blocks are
    // released the moment the next eager checkpoint stops reading
    // them; the LAST checkpoint's outlive the call (the returned frame
    // reads them) and release at [[Dedup.scoped]] exit.
    val ChkEvery = 10
    var chkRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var iter = 1
    while (iter <= iters && !converged) {
      val contrib = g.eW
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(rank * w) div out_w").as("c"))
      // in-flow rollup and node completion in ONE node-keyed exchange:
      // union a zero-contribution row per node (carrying the node
      // frame's annotation columns, e.g. is_seed) with the edge
      // contributions, then aggregate — sum(c) over {0} ∪ contribs
      // equals the old left-joined in_r (coalesce'd to 0), and each
      // node's single zero row is the only non-null annotation value,
      // so max() restores it exactly. The old shape (groupBy(dst) +
      // nodes⟕inc) paid the same exchange PLUS a |V|-sized join per
      // iteration — broadcast locally, two more exchanges at the
      // scale where |V| stops fitting a broadcast.
      val annot = nodes.columns.filterNot(_ == "node").toSeq
      val zeroRows = nodes.withColumn("c", lit(0L))
      val contribRows = contrib.select(
        col("dst").as("node") +:
          annot.map(a => lit(null).cast(
            zeroRows.schema(a).dataType).as(a)) :+ col("c"): _*)
      val aggs = sum("c").as("in_r") +: annot.map(a => max(col(a)).as(a))
      val joined = zeroRows.unionByName(contribRows)
        .groupBy("node").agg(aggs.head, aggs.tail: _*)
      // dangling mass = ranks of the no-out-edge nodes: a semi-join
      // against the cached dangling subset (node-keyed, tiny) — the
      // old form anti-joined the full out-weight rollup per iteration
      val dangRanks = () => ranks
        .join(g.danglingNodes, Seq("node"), "left_semi")
      val nextPlan =
        if (!g.hasDangling) update(joined, "")
        else if (iters <= 5) {
          // dangling mass: ranks of nodes with no out-edges, folded
          // back as a broadcast 1-row scalar — stays one lazy plan (no
          // driver round-trip per iteration). The scalar branch is a
          // SECOND reference to `ranks`, so the logical plan DOUBLES
          // per iteration; bounded here because shallow runs cap the
          // exponent at 5 (≤32 templates). Deep runs must not take
          // this path: at iteration ~10 the doubled tree's printed
          // form (AQE re-renders it per stage update) reaches
          // hundreds of MB and OOMs the driver — measured, not
          // hypothetical.
          val dang = dangRanks()
            .agg(coalesce(sum("rank"), lit(0L)).as("dang"))
          update(joined.crossJoin(broadcast(dang)), shareBroadcast)
        } else {
          // Deep runs are already eager per iteration (the count/
          // checkpoint below), so the laziness the broadcast form buys
          // is gone — fetch the dangling scalar to the driver instead
          // and embed its per-node share as a literal. One extra tiny
          // job per iteration; plan growth stays LINEAR between
          // checkpoints. Exact long arithmetic either way: `/` on
          // non-negative longs in Scala ≡ SQL `div`.
          val dangVal = dangRanks()
            .agg(coalesce(sum("rank"), lit(0L)))
            .head().getLong(0)
          update(joined, shareLiteral(dangVal))
        }
      val prev = ranks
      if (iter % ChkEvery == 0) {
        // lineage truncation (eager: materializes here, so no extra
        // count). The createDataFrame hop rebuilds a CLEAN leaf over
        // the checkpointed rows — see groupPairs on why the raw frame
        // can trip stale-attribute rewrites downstream.
        val chk = nextPlan.localCheckpoint(true)
        val next = chk.sparkSession.createDataFrame(chk.rdd, chk.schema)
        // delta BEFORE any unpersist: prev may read a checkpointed RDD
        // whose lineage is truncated — unpersist-then-recompute fails
        if (tolUnits > 0 && iter < iters) converged = maxDelta(next, prev) <= tolUnits
        prev.unpersist()
        chkRdd.foreach(_.unpersist(false))
        chkRdd = org.apache.spark.sql.GraftColumnShim.checkpointedRdd(chk)
        ranks = next
      } else {
        // Materialize the new frame, then release the superseded one —
        // it is dead after this join, and at 50 iterations on a
        // web-scale node set, `iters` simultaneously-pinned node frames
        // would evict every other cache on the cluster. Shallow runs
        // skip the eager per-iteration job (the count costs ~40% wall
        // on a 3-iteration graph, measured at sf0.1) and let the
        // handful of frames release at scope exit. When the
        // convergence probe runs, it IS the eager step (the delta agg
        // materializes `next` through the cache — no separate count).
        val next = Dedup.scopedCache(nextPlan)
        if (tolUnits > 0 && iter < iters) {
          converged = maxDelta(next, prev) <= tolUnits
          if (iters > 5) prev.unpersist()
        } else if (iters > 5) {
          next.count()
          prev.unpersist()
        }
        ranks = next
      }
      iter += 1
    }
    chkRdd.foreach(r => Dedup.scopedCleanup(() => r.unpersist(false)))
    ranks
  }

  /** Refuse a node frame with a null in an annotation column (every
    * column but `node`, e.g. `is_seed`) on entry to [[loop]]: its max()
    * restore returns each node's one zero-row value, so a null would
    * come back null and the update's `when()` would drop that node's
    * teleport term. A frame with no annotation costs no job.
    */
  private[graft] def requireAnnotated(nodes: DataFrame): Unit = {
    val annot = nodes.columns.filterNot(_ == "node").toSeq
    if (annot.nonEmpty)
      require(nodes.filter(annot.map(col(_).isNull).reduce(_ || _)).limit(1).isEmpty,
        s"pageRank: null in annotation column(s) ${annot.mkString(", ")} on entry to the loop")
  }

  /** max(|next.rank − prev.rank|) over all nodes — the integer
    * convergence probe behind `tolUnits`. One node-keyed equi-join +
    * one max rollup (both frames are one row per node, so the join is
    * complete and the max is over n ≥ 1 rows); |diff| ≤ scale fits a
    * long. Exact integer arithmetic: the exit decision is replayable,
    * like every other step of the loop.
    */
  private def maxDelta(next: DataFrame, prev: DataFrame): Long =
    next.as("a").join(prev.as("b"), col("a.node") === col("b.node"))
      .agg(max(abs(col("a.rank") - col("b.rank"))))
      .head().getLong(0)

  /** `tolUnits` (optional, 0 = off): stop early once
    * max(|rank − prev_rank|) ≤ tolUnits — on a converged graph at
    * iters=50 half the fixed-iteration work is dead. The probe is one
    * extra node-keyed join + max per iteration ([[maxDelta]]),
    * integer-exact, so an early-exited run is BIT-IDENTICAL to the
    * fixed-iteration result at the exit iteration (PageRankSpec pins
    * this). Costs eagerness on shallow runs, so leave it 0 when iters
    * is already small.
    */
  def pageRank(
      edges: DataFrame, src: Column, dst: Column, w: Column,
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      tolUnits: Long = 0L): DataFrame = {
    require(tolUnits >= 0, s"tolUnits must be >= 0, got $tolUnits")
    val g = prepare(edges, src, dst, w, iters, scale, dampNum, dampDen)
    val base = scale / g.n
    require(base >= 1,
      s"pageRank: scale=$scale < n=${g.n} nodes — every rank would " +
        "quantize to 0; raise scale above the node count")
    val baseTerm = ((dampDen - dampNum) * base) / dampDen
    // Shared update arithmetic — `shareSql` is either the broadcast
    // column's `+ dang div n` or a precomputed literal share; the SQL
    // tree is otherwise IDENTICAL across the dangling paths, so they
    // cannot drift (both are pinned against the plain-Scala replay in
    // PageRankSpec, shallow and deep).
    def update(df: DataFrame, shareSql: String): DataFrame =
      df.select(
        col("node"),
        (lit(baseTerm) + expr(
          s"($dampNum * (coalesce(in_r, CAST(0 AS BIGINT))$shareSql)) div $dampDen"))
          .as("rank"))
    loop(g, g.nodes, g.nodes.withColumn("rank", lit(base)), iters, update,
      shareBroadcast = s" + dang div ${g.n}",
      shareLiteral = d => s" + ${d / g.n}",
      tolUnits = tolUnits)
  }

  /** Personalized (seeded) PageRank — teleport mass goes ONLY to
    * `seeds` (uniformly), so scores measure proximity to the trusted
    * set rather than global authority; dangling mass likewise returns
    * to the seeds (the personalization vector IS the teleport
    * distribution). Non-seed nodes carry no teleport term: a node
    * unreachable from every seed scores exactly 0, which is the
    * semantics curation wants ("no trust path, no trust").
    *
    * Seeds not present in the graph contribute nothing and are
    * dropped from the seed count (a vetted domain with no observed
    * links cannot radiate); an entirely-absent seed set is an error,
    * as are null seed ids. Same integer fixed-point discipline and
    * scale shape as [[pageRank]]; the seed flag rides the cached node
    * frame, so the per-iteration plan grows by ONE boolean column, not
    * an extra join.
    */
  def personalized(
      edges: DataFrame, src: Column, dst: Column, w: Column,
      seeds: DataFrame, seed: Column,
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100,
      tolUnits: Long = 0L): DataFrame = {
    require(tolUnits >= 0, s"tolUnits must be >= 0, got $tolUnits")
    val g = prepare(edges, src, dst, w, iters, scale, dampNum, dampDen)
    val sAll = Dedup.scopedCache(seeds.select(seed.as("node")).distinct())
    // null seeds rejected loudly — the same silent-drop argument as
    // edge endpoints (an equi-join would just lose them)
    require(sAll.filter(col("node").isNull).limit(1).count() == 0,
      "personalized: seed set contains null ids")
    val sIn = Dedup.scopedCache(sAll.join(g.nodes, Seq("node"), "left_semi"))
    val nS = sIn.count()
    require(nS >= 1,
      "personalized: no seed appears in the graph (check id formatting)")
    val seedBase = scale / nS
    require(seedBase >= 1,
      s"personalized: scale=$scale < $nS seeds — seed mass would " +
        "quantize to 0; raise scale above the seed count")
    val seedTerm = ((dampDen - dampNum) * seedBase) / dampDen
    val nodesSeeded = Dedup.scopedCache(
      g.nodes
        .join(sIn.withColumn("is_seed", lit(true)), Seq("node"), "left")
        .withColumn("is_seed", coalesce(col("is_seed"), lit(false))))
    val init = nodesSeeded.select(
      col("node"),
      when(col("is_seed"), lit(seedBase)).otherwise(lit(0L)).as("rank"))
    // seeds get teleport + damped (in + dangling share over SEEDS);
    // non-seeds get only the damped in-flow — the exact tree the
    // personalizedOracleCtes CASE replays
    def update(df: DataFrame, shareSql: String): DataFrame =
      df.select(
        col("node"),
        when(col("is_seed"),
          lit(seedTerm) + expr(
            s"($dampNum * (coalesce(in_r, CAST(0 AS BIGINT))$shareSql)) div $dampDen"))
          .otherwise(expr(
            s"($dampNum * coalesce(in_r, CAST(0 AS BIGINT))) div $dampDen"))
          .as("rank"))
    loop(g, nodesSeeded, init, iters, update,
      shareBroadcast = s" + dang div $nS",
      shareLiteral = d => s" + ${d / nS}",
      tolUnits = tolUnits)
  }

  /** The SQL replay of [[pageRank]] as chained CTEs — one CTE per
    * iteration, identical integer arithmetic (`//` floor division —
    * all quantities non-negative, so floor ≡ the engine's long
    * division). `edgesCte` must define `edges(src, dst, w)`; the
    * caller appends a final SELECT over `r{iters}(node, rank)`.
    */
  def oracleCtes(
      edgesCte: String, iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): String = {
    val head =
      s"""$edgesCte,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |consts AS (SELECT COUNT(*) AS n, CAST($scale AS BIGINT) // COUNT(*) AS base FROM nodes),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
         |r0 AS (SELECT node, (SELECT base FROM consts) AS rank FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""inc$i AS (
         |  SELECT e.dst, CAST(SUM((r.rank * e.w) // o.out_w) AS BIGINT) AS in_r
         |  FROM edges e JOIN $p r ON e.src = r.node JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst
         |),
         |dang$i AS (
         |  SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0) AS dang FROM $p
         |  WHERE node NOT IN (SELECT src FROM outw)
         |),
         |r$i AS (
         |  SELECT n.node,
         |    ((${dampDen - dampNum} * (SELECT base FROM consts)) // $dampDen)
         |    + ($dampNum * (COALESCE(i.in_r, 0)
         |        + (SELECT dang FROM dang$i) // (SELECT n FROM consts))) // $dampDen
         |    AS rank
         |  FROM nodes n LEFT JOIN inc$i i ON i.dst = n.node
         |)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** The SQL replay of [[personalized]] — same chained-CTE shape as
    * [[oracleCtes]] with the teleport CASE split on seed membership.
    * `seedsCte` is a complete SELECT producing one column `node`
    * (duplicates and off-graph ids are dropped exactly as the
    * operator drops them); the caller appends a final SELECT over
    * `r{iters}(node, rank)`.
    */
  def personalizedOracleCtes(
      edgesCte: String, seedsCte: String, iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85, dampDen: Long = 100): String = {
    val head =
      s"""$edgesCte,
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |seedset AS (SELECT DISTINCT q.node FROM ($seedsCte) q JOIN nodes USING (node)),
         |consts AS (SELECT COUNT(*) AS ns, CAST($scale AS BIGINT) // COUNT(*) AS sbase FROM seedset),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN (SELECT sbase FROM consts)
         |         ELSE CAST(0 AS BIGINT) END AS rank
         |  FROM nodes n LEFT JOIN seedset s ON s.node = n.node
         |)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      s"""inc$i AS (
         |  SELECT e.dst, CAST(SUM((r.rank * e.w) // o.out_w) AS BIGINT) AS in_r
         |  FROM edges e JOIN $p r ON e.src = r.node JOIN outw o ON o.src = e.src
         |  GROUP BY e.dst
         |),
         |dang$i AS (
         |  SELECT COALESCE(CAST(SUM(rank) AS BIGINT), 0) AS dang FROM $p
         |  WHERE node NOT IN (SELECT src FROM outw)
         |),
         |r$i AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL
         |      THEN ((${dampDen - dampNum} * (SELECT sbase FROM consts)) // $dampDen)
         |        + ($dampNum * (COALESCE(i.in_r, 0)
         |            + (SELECT dang FROM dang$i) // (SELECT ns FROM consts))) // $dampDen
         |      ELSE ($dampNum * COALESCE(i.in_r, 0)) // $dampDen
         |    END AS rank
         |  FROM nodes n
         |  LEFT JOIN inc$i i ON i.dst = n.node
         |  LEFT JOIN seedset s ON s.node = n.node
         |)""".stripMargin
    }
    (head +: iterCtes).mkString(",\n")
  }
}
