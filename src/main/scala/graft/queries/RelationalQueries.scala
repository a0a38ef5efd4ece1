package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{Glob, Money, Ranks}

/** Core relational operator coverage (SURVEY.md §2.2–§2.7) expressed over
  * the TPC-H-ish testdata. Every query has a DuckDB oracle with identical
  * column names and engine-independent numerics:
  *   - money aggregates go through integer cents (see [[graft.functions.Money]])
  *   - every LIMIT carries a full deterministic ORDER BY tiebreak
  *   - no raw double aggregation anywhere.
  *
  * Scale notes (100 TB): region/nation/supplier/customer are broadcast
  * dims; lineitem/orders joins shuffle on their keys with AQE handling
  * skew; all filters/projections are Column expressions that push into
  * the parquet scan.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** TPC-H Q1-style pricing summary: scan + filter + groupBy aggregate
    * (SURVEY §2.4 A1-A3 shape). Map-side partial aggregation; 4-row result.
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val priceC = Money.cents(col("l_extendedprice"))
    val discP = Money.cents(col("l_discount")) // 0..100 integer "percent"
    val taxP = Money.cents(col("l_tax"))
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        (sum(priceC).cast("double") / 100.0).as("sum_base_price"),
        (sum(priceC * (lit(100L) - discP)).cast("double") / 10000.0).as("sum_disc_price"),
        (sum(priceC * (lit(100L) - discP) * (lit(100L) + taxP)).cast("double") / 1000000.0).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(priceC).cast("double") / count(lit(1)) / 100.0).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      |  SUM(l_quantity)/COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/COUNT(*)/100.0 AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Star-join revenue rollup: fact ⋈ orders ⋈ customer ⋈ nation ⋈ region
    * (SURVEY §2.3 J1-J3). nation/region broadcast; lineitem⋈orders is the
    * one genuine shuffle.
    */
  def q02RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    val revC = Money.cents(col("l_extendedprice")) * (lit(100L) - Money.cents(col("l_discount")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        (sum(revC).cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  val q02Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Top-K with deterministic tiebreak (SURVEY §2.6 T1/T3): Spark plans
    * TakeOrderedAndProject — no global sort materialized.
    */
  def q03TopOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  val q03Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  /** Anti-join — the baseline-differ "removed" shape (SURVEY §2.3 J4/U1). */
  def q04CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  val q04Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Semi-join — EXISTS shape (SURVEY §2.3). */
  def q05OrdersWithBigLineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(
        t(s, dir, "lineitem").filter(col("l_quantity") >= 49),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  val q05Oracle: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |ORDER BY o_orderkey""".stripMargin

  /** Keep-latest window dedup (SURVEY §2.5: row_number over
    * partitionBy/orderBy — the reference's "keep oldest" duplicate policy
    * inverted to keep-latest per user). `ts` normalizes through
    * [[graft.Tables.tsUs]] (schema-adaptive across testdata
    * generations).
    */
  def q06LatestEventPerUser(s: SparkSession, dir: String): DataFrame = {
    // order on µs, not raw ns: the DuckDB oracle only sees µs
    // precision, so both engines must break ties identically.
    val ev = t(s, dir, "events")
    val w = Window.partitionBy("user_id")
      .orderBy(graft.Tables.tsUs(ev).desc, desc("event_id"))
    ev
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  val q06Oracle: String =
    """SELECT user_id, event_id, event_type, value FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  /** Per-type stats with exact money sums (SURVEY §2.4 A4-A7). */
  def q07EventTypeStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        Money.sumMoney(col("value")).as("sum_value"),
        min("event_id").as("min_event"),
        max("event_id").as("max_event"))
      .orderBy("event_type")

  val q07Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value,
      |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact distinct aggregation (SURVEY §2.7 U2). At 100 TB an
    * approx_count_distinct variant is the cheap path; the oracle gate
    * needs the exact one.
    */
  def q08DistinctUsers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val q08Oracle: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** unionByName of two filtered branches + rollup (SURVEY §2.7 U3/U4). */
  def q09UnionSegments(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val a = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_acctbal"), lit("building").as("bucket"))
    val b = cust.filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_acctbal"), lit("rich").as("bucket"))
    a.unionByName(b)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), Money.sumMoney(col("c_acctbal")).as("sum_bal"))
      .orderBy("bucket")
  }

  val q09Oracle: String =
    """SELECT bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_bal
      |FROM (
      |  SELECT c_custkey, c_acctbal, 'building' AS bucket FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION ALL
      |  SELECT c_custkey, c_acctbal, 'rich' AS bucket FROM customer WHERE c_acctbal > 9000
      |) GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Duplicate-group detection — the reference's flagship
    * GROUP BY … HAVING count>1 (SURVEY §2.4 A1,
    * reference src/file_indexing_system.py:246-319).
    */
  def q10DupPartsupp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey", "l_suppkey")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
      .filter(col("n_lines") > 1)
      .orderBy("l_partkey", "l_suppkey")

  val q10Oracle: String =
    """SELECT l_partkey, l_suppkey, COUNT(*) AS n_lines, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY l_partkey, l_suppkey HAVING COUNT(*) > 1
      |ORDER BY l_partkey, l_suppkey""".stripMargin

  /** Enum ordinal ranking via when-chains (SURVEY §2.6 T2 severity rank). */
  def q11PriorityRank(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        Ranks.priorityRank(col("o_orderpriority")).as("prio_rank"))
      .orderBy(asc("prio_rank"), asc("o_orderkey"))
      .limit(100)

  val q11Oracle: String =
    """SELECT o_orderkey, o_orderpriority,
      |  CASE WHEN o_orderpriority LIKE '1%' THEN 0 WHEN o_orderpriority LIKE '2%' THEN 1
      |       WHEN o_orderpriority LIKE '3%' THEN 2 WHEN o_orderpriority LIKE '4%' THEN 3
      |       WHEN o_orderpriority LIKE '5%' THEN 4 ELSE 99 END AS prio_rank
      |FROM orders ORDER BY prio_rank, o_orderkey LIMIT 100""".stripMargin

  /** Glob include/exclude filter compiled to LIKE (SURVEY §2.2 P1, §2.8 F7). */
  def q12PartGlob(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(Glob.globFilter(col("p_type"), Seq("*BRUSHED*", "*POLISHED*"), Seq("PROMO*")))
      .select("p_partkey", "p_type", "p_brand")
      .orderBy("p_partkey")

  val q12Oracle: String =
    """SELECT p_partkey, p_type, p_brand FROM part
      |WHERE (p_type LIKE '%BRUSHED%' OR p_type LIKE '%POLISHED%') AND p_type NOT LIKE 'PROMO%'
      |ORDER BY p_partkey""".stripMargin

  /** Calendar bucketing (SURVEY §2.8 F8 date functions). */
  def q13MonthlyOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        Money.sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy("month")

  val q13Oracle: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
      |FROM orders GROUP BY 1 ORDER BY month""".stripMargin

  /** Broadcast dim rollup: customers per region (SURVEY §2.4 A11). */
  def q14RegionCustomers(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct(col("n_name")).as("n_nations"),
        Money.sumMoney(col("c_acctbal")).as("sum_bal"))
      .orderBy("r_name")

  val q14Oracle: String =
    """SELECT r_name, COUNT(*) AS n_customers, COUNT(DISTINCT n_name) AS n_nations,
      |  CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Global totals incl. exact distinct (SURVEY §2.4 A2). */
  def q17LineitemTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        Money.sumMoney(col("l_extendedprice")).as("sum_price"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))

  val q17Oracle: String =
    """SELECT COUNT(*) AS n_rows, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price,
      |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem""".stripMargin

  /** Orphan detection — anti-join in the other direction (SURVEY §2.3 J5). */
  def q18OrdersNoLineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  val q18Oracle: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Top-3 orders per priority via the custom per-group top-K
    * Aggregator (map-side k-row buffers — no per-group full sort). The
    * oracle is the window-function formulation: same result, so this
    * differentially proves the Aggregator against row_number().
    */
  def q19TopPerPriority(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perGroup(
      t(s, dir, "orders"),
      Seq("o_orderpriority"),
      Money.cents(col("o_totalprice")),
      col("o_orderkey"),
      k = 3)
      .withColumnRenamed("metric", "price_cents")
      .withColumnRenamed("id", "o_orderkey")
      .orderBy("o_orderpriority", "rank")

  val q19Oracle: String =
    """SELECT o_orderpriority,
      |  CAST(row_number() OVER w AS INT) AS rank,
      |  CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
      |  o_orderkey
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey)
      |QUALIFY row_number() OVER w <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin

  /** Status metrics with exact average duration (SURVEY §2.4 A4 — the
    * reference's job counts-by-status + avg completed duration). Sum of
    * integer day-diffs keeps the average deterministic (single division).
    */
  def q20StatusMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("days", datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lineitems"),
        sum(col("days")).as("sum_days"),
        (sum(col("days")).cast("double") / count(lit(1))).as("avg_days"))
      .orderBy("o_orderstatus")

  val q20Oracle: String =
    """SELECT o_orderstatus,
      |  COUNT(DISTINCT o_orderkey) AS n_orders,
      |  COUNT(*) AS n_lineitems,
      |  CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS sum_days,
      |  CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE) / COUNT(*) AS avg_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Skew-resistant lookup join through ScaleJoins.saltedJoin (SURVEY
    * §2.3 at 100 TB): `l_returnflag` has 3 distinct values, so a plain
    * shuffle join lands each flag's millions of rows on ONE reducer —
    * the canonical hot-key shape. The salted path splits every flag
    * into 16 sub-keys (salt = hash of the order key, deterministic for
    * retries) and replicates the 3-row dim across them. Salting is
    * invisible to semantics, so the oracle is the plain join.
    */
  def q21SaltedFlagJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("A", "returned"), ("N", "in_transit"), ("R", "refunded"))
      .toDF("rf", "rf_label")
    val fact = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_orderkey"), col("l_extendedprice"))
    graft.operators.ScaleJoins.saltedJoin(fact, dim, "rf", col("l_orderkey"), buckets = 16)
      .groupBy("rf", "rf_label")
      .agg(
        count(lit(1)).as("n"),
        Money.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("rf")
  }

  val q21Oracle: String =
    """SELECT rf, rf_label, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
      |FROM lineitem
      |JOIN (VALUES ('A', 'returned'), ('N', 'in_transit'), ('R', 'refunded')) AS d(rf, rf_label)
      |  ON l_returnflag = d.rf
      |GROUP BY rf, rf_label ORDER BY rf""".stripMargin

  /** KMV distinct-count sketch ([[graft.operators.Sketches]]): per
    * return flag, estimate the distinct order count from the 64
    * smallest h60 hashes. Unlike `approx_count_distinct` (HLL++,
    * engine-internal registers), the bottom-k hash set is a pure
    * function of the value set — the oracle replays sketch AND
    * estimate bit-for-bit, so the approximation itself is
    * correctness-gated. The estimator error contract (≈1/√(k−2)) is
    * spec-pinned separately in SketchesSpec.
    */
  def q22KmvDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvDistinctByKey(
      t(s, dir, "lineitem"), col("l_returnflag"), col("l_orderkey"), k = 64)
      .orderBy("key")

  val q22Oracle: String = {
    val h = DuckOracle.h60("CAST(l_orderkey AS VARCHAR)")
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag AS key, HEXPR AS h
      |  FROM lineitem WHERE l_orderkey IS NOT NULL
      |), bk AS (
      |  SELECT key, h FROM h QUALIFY row_number() OVER (PARTITION BY key ORDER BY h) <= 64
      |), agg AS (
      |  SELECT key, CAST(COUNT(*) AS INT) AS n_kept, MAX(h) AS kth_hash FROM bk GROUP BY key
      |)
      |SELECT key, n_kept, kth_hash,
      |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |       ELSE (CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)) / CAST(GREATEST(kth_hash, 1) AS DOUBLE) END AS est_distinct
      |FROM agg ORDER BY key""".stripMargin.replace("HEXPR", h)
  }

  /** Incremental distinct counts via PERSISTED, MERGED KMV sketches
    * ([[graft.operators.Sketches.kmvSketchByKey]] →
    * parquet → [[graft.operators.Sketches.kmvMergeSketches]] →
    * [[graft.operators.Sketches.kmvEstimate]]): per-ship-year partial
    * sketches (the per-day increment shape of a training pipeline)
    * are written to a sketch lake, read back, and merged per return
    * flag — the corpus is scanned once per increment, never re-scanned
    * at estimate time. Bottom-k-distinct is a semilattice, so the
    * merged sketch is BIT-IDENTICAL to the one-shot sketch over the
    * union — which is exactly what the oracle computes (one-shot
    * bottom-k in SQL over all of lineitem), with `sketch_fp` pinning
    * every element of the merged sketch, not just its estimate.
    */
  def q23KmvMerge(s: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.wiped(s, "kmv_sketches", dir)
    val li = t(s, dir, "lineitem")
    // one sketch per (flag, ship-year) increment → the sketch lake
    graft.operators.Sketches.kmvSketchByKey(
      li,
      struct(col("l_returnflag").as("flag"), year(col("l_shipdate")).as("yr")),
      col("l_orderkey"), k = 64)
      .write.mode("overwrite").parquet(out)
    // merge increments per flag; estimate without touching lineitem.
    // scopedCache: the merged frame feeds BOTH the estimate and the
    // sketch_fp join — without it the sketch-lake scan + merge
    // aggregate would run twice (Verify/Bench clear the cache between
    // queries; long-lived callers wrap in Dedup.scoped)
    val merged = graft.operators.Dedup.scopedCache(
      graft.operators.Sketches.kmvMergeSketches(
        s.read.parquet(out), col("key.flag"), col("mins"), k = 64))
    graft.operators.Sketches.kmvEstimate(merged, k = 64)
      .join(merged.select(col("key"),
        md5(concat_ws(",", transform(col("mins"), m => m.cast("string"))))
          .as("sketch_fp")), "key")
      .select("key", "n_kept", "kth_hash", "est_distinct", "sketch_fp")
      .orderBy("key")
  }

  val q23Oracle: String = {
    val h = DuckOracle.h60("CAST(l_orderkey AS VARCHAR)")
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag AS key, HEXPR AS h
      |  FROM lineitem WHERE l_orderkey IS NOT NULL
      |), bk AS (
      |  SELECT key, h FROM h QUALIFY row_number() OVER (PARTITION BY key ORDER BY h) <= 64
      |), agg AS (
      |  SELECT key, CAST(COUNT(*) AS INT) AS n_kept, MAX(h) AS kth_hash,
      |    md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) AS sketch_fp
      |  FROM bk GROUP BY key
      |)
      |SELECT key, n_kept, kth_hash,
      |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |       ELSE (CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)) / CAST(GREATEST(kth_hash, 1) AS DOUBLE) END AS est_distinct,
      |  sketch_fp
      |FROM agg ORDER BY key""".stripMargin.replace("HEXPR", h)
  }

  /** Snapshot-overlap estimation via KMV set algebra
    * ([[graft.operators.Sketches.kmvSetEstimates]]): per-ship-year
    * KMV sketches of the distinct order-key set, then consecutive
    * years compared sketch-to-sketch — intersection / both
    * differences / union / Jaccard, never re-scanning lineitem. The
    * training-pipeline framing: "how much of today's crawl did
    * yesterday already have?" answered from two kilobyte sketches.
    * Below θ = min(θ_A, θ_B) each sketch is COMPLETE, so the sub-θ
    * survivors are a coordinated uniform sample and every set
    * expression scales by 2^60/θ — integer counting plus one
    * multiply-divide, which is why the oracle replays the estimates
    * (not just the sketches) bit-for-bit.
    */
  def q28KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    // one sketch aggregate feeds BOTH join sides — cache or it runs twice
    val sk = graft.operators.Dedup.scopedCache(
      graft.operators.Sketches.kmvSketchByKey(
        t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull),
        year(col("l_shipdate")), col("l_orderkey"), k = 64))
    // align year y+1's sketch onto key y: output row y = overlap(y, y+1)
    graft.operators.Sketches.kmvSetEstimates(
      sk, sk, col("key"), col("key") - 1, k = 64)
      .orderBy("key")
  }

  /** Multi-level aggregation via ROLLUP — the grouping-sets surface:
    * (flag, status) subtotals, per-flag subtotals, and the grand total
    * in ONE aggregation pass (Catalyst expands the grouping sets; at
    * scale this is one shuffle, not three queries). `grouping_id`
    * disambiguates rollup-nulls from data-nulls and gives the
    * engine-independent sort key. Money in integer cents.
    */
  def q30Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .select("gid", "l_returnflag", "l_linestatus", "n", "sum_cents")
      .orderBy("gid", "l_returnflag", "l_linestatus")

  val q30Oracle: String =
    """SELECT CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      |  l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  /** GENERAL grouping sets — the surface ROLLUP (q30) cannot express:
    * a NON-hierarchical mix of set shapes in one aggregation pass —
    * (flag, status) cells, per-ship-year subtotals on an unrelated
    * dimension, and the grand total. Catalyst expands the sets and
    * shuffles ONCE (the same Expand+Aggregate plan as rollup); three
    * separate queries would scan and shuffle the fact table three
    * times. `grouping_id` disambiguates grouped-out nulls from
    * data-nulls exactly as in q30 (MSB = first listed column).
    */
  def q33GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")).cast("int"))
      .groupingSets(
        Seq(
          Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("ship_year")),
          Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"), col("ship_year"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
      .select("gid", "l_returnflag", "l_linestatus", "ship_year", "n", "sum_cents")
      .orderBy("gid", "l_returnflag", "l_linestatus", "ship_year")

  val q33Oracle: String =
    """SELECT CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2 + GROUPING(ship_year) AS INT) AS gid,
      |  l_returnflag, l_linestatus, ship_year, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM (SELECT *, CAST(year(l_shipdate) AS INT) AS ship_year FROM lineitem)
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
      |ORDER BY gid, l_returnflag, l_linestatus, ship_year""".stripMargin

  /** CUBE — grouping sets' degenerate "every subset" case, on the
    * orders dims: (status, priority), each alone, and the grand total
    * in one Expand+Aggregate pass. Same gid/cents contracts as q30/q33.
    */
  def q34Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .select("gid", "o_orderstatus", "o_orderpriority", "n", "sum_cents")
      .orderBy("gid", "o_orderstatus", "o_orderpriority")

  /** Ranking-window breadth (the §2.5 family beyond row_number/lag):
    * dense_rank, ntile quartiles, percent_rank, cume_dist per priority
    * over the MONTHLY cents rollup — the window runs over the bounded
    * aggregated series, never the raw corpus (the e10 posture), and the
    * ORDER BY is total (cents desc, month) so every rank function is
    * deterministic. percent_rank/cume_dist divide exact longs → the
    * doubles match bit-for-bit cross-engine.
    */
  def q35RankWindows(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .groupBy(
        col("o_orderpriority").as("prio"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy("prio").orderBy(col("cents").desc, col("month"))
    monthly
      .select(col("prio"), col("month"), col("cents"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("prio", "month")
  }

  val q35Oracle: String =
    """WITH monthly AS (
      |  SELECT o_orderpriority AS prio, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT prio, month, cents,
      |  CAST(dense_rank() OVER w AS INT) AS drank,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist
      |FROM monthly
      |WINDOW w AS (PARTITION BY prio ORDER BY cents DESC, month)
      |ORDER BY prio, month""".stripMargin

  /** FULL OUTER join — the one join flavor the q-family lacked:
    * month-level order volume vs lineitem ship volume, keeping months
    * present on either side only (nulls on the absent side). Exact
    * integer cents both sides.
    */
  def q36FullOuter(s: SparkSession, dir: String): DataFrame = {
    val om = t(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"))
    val lm = t(s, dir, "lineitem")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_ship"))
    om.join(lm, Seq("month"), "full_outer")
      .select("month", "n_orders", "n_ship")
      .orderBy("month")
  }

  val q36Oracle: String =
    """WITH om AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1
      |), lm AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month, COUNT(*) AS n_ship
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT COALESCE(om.month, lm.month) AS month, n_orders, n_ship
      |FROM om FULL OUTER JOIN lm ON om.month = lm.month
      |ORDER BY month""".stripMargin

  /** Pearson sufficient statistics per return flag over integer-
    * quantized (quantity, discount-cents) — see
    * [[graft.operators.Stats.corrMoments]]: exact BIGINT moments (the
    * mergeable artifact — two days' rows ADD componentwise) plus the
    * correlation derived from them through one fixed double tree.
    */
  def q37CorrMoments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.corrMoments(
      t(s, dir, "lineitem"),
      Seq(col("l_returnflag")),
      round(col("l_quantity")),
      round(col("l_discount") * 100))
      .orderBy("l_returnflag")

  val q37Oracle: String =
    """WITH b AS (
      |  SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS q,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) AS d
      |  FROM lineitem
      |), m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(q) AS BIGINT) AS sum_x, CAST(SUM(d) AS BIGINT) AS sum_y,
      |    CAST(SUM(q * q) AS BIGINT) AS sum_xx, CAST(SUM(d * d) AS BIGINT) AS sum_yy,
      |    CAST(SUM(q * d) AS BIGINT) AS sum_xy
      |  FROM b GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, n, sum_x, sum_y, sum_xx, sum_yy, sum_xy,
      |  CASE WHEN n > 1
      |    AND CAST(n * sum_xx - sum_x * sum_x AS DOUBLE) > 0
      |    AND CAST(n * sum_yy - sum_y * sum_y AS DOUBLE) > 0
      |    THEN CAST(n * sum_xy - sum_x * sum_y AS DOUBLE)
      |      / (sqrt(CAST(n * sum_xx - sum_x * sum_x AS DOUBLE)) * sqrt(CAST(n * sum_yy - sum_y * sum_y AS DOUBLE)))
      |  END AS corr
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** Ratio-to-report — each nation's share of its REGION's revenue
    * (the "percent of total" window every BI layer ships): exact
    * integer cents throughout, the share as one double division of two
    * exact longs. The partition sum runs over the ALREADY-AGGREGATED
    * (region, nation) frame — ≤ dim-cardinality rows — never over the
    * fact table, so the window is free at any corpus size; the heavy
    * work is the same broadcast-dim star join as q02.
    */
  def q40RevenueShare(s: SparkSession, dir: String): DataFrame = {
    val revC = Money.cents(col("l_extendedprice")) * (lit(100L) - Money.cents(col("l_discount")))
    val byNation = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(revC).as("rev_c"))
    val w = Window.partitionBy("r_name")
    byNation
      .withColumn("region_rev_c", sum(col("rev_c")).over(w))
      .select(col("r_name"), col("n_name"), col("rev_c"),
        (col("rev_c").cast("double") / col("region_rev_c").cast("double")).as("share"))
      .orderBy("r_name", "n_name")
  }

  val q40Oracle: String =
    """WITH bn AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name
      |)
      |SELECT r_name, n_name, rev_c,
      |  CAST(rev_c AS DOUBLE) / CAST(SUM(rev_c) OVER (PARTITION BY r_name) AS DOUBLE) AS share
      |FROM bn ORDER BY r_name, n_name""".stripMargin

  /** Skyline / Pareto frontier ([[graft.operators.Skyline.skyline2d]]):
    * parts no other part beats on BOTH price (minimize, exact cents)
    * and size (maximize) — the shortlist query behind "best tradeoff"
    * reports. The operator is the distributed sweep (group-max →
    * distributed prefix-max scan → threshold join; no global
    * single-task window, no quadratic self-join); the oracle is the
    * quadratic NOT-EXISTS dominance spelling — a full differential
    * test of the scan's carry algebra across partition cuts.
    */
  def q41Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").select(
      col("p_partkey"), col("p_size"),
      Money.cents(col("p_retailprice")).as("price_c"))
    graft.operators.Skyline.skyline2d(p, col("price_c"), col("p_size"))
      .select("p_partkey", "p_size", "price_c")
      .orderBy("p_partkey")
  }

  val q41Oracle: String =
    """WITH p AS (
      |  SELECT p_partkey, p_size,
      |    CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_c
      |  FROM part
      |)
      |SELECT p_partkey, p_size, price_c FROM p a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p b
      |  WHERE (b.price_c < a.price_c AND b.p_size >= a.p_size)
      |     OR (b.price_c <= a.price_c AND b.p_size > a.p_size)
      |)
      |ORDER BY p_partkey""".stripMargin

  /** Trade-graph PageRank ([[graft.operators.PageRank.pageRank]],
    * 3 iterations, d=0.85): customers and suppliers as nodes, order
    * volume as edge weight (both directions — the bipartite trade
    * relation made ergodic), integer fixed-point ranks so every unit
    * is engine-replayable. The heavy distributed work is the edge
    * aggregation over the fact join; iterations then run on the
    * graph-sized frames. The oracle replays all three iterations as
    * chained CTEs with identical floor-division arithmetic.
    */
  /** The customer↔supplier trade graph shared by g01/g02: order-line
    * volume as edge weight, both directions (the bipartite relation
    * made ergodic). The heavy distributed work is this edge rollup
    * over the fact join; iterations then run on graph-sized frames.
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(
        concat(lit("c:"), col("o_custkey")).as("cn"),
        concat(lit("s:"), col("l_suppkey")).as("sn"))
      .agg(count(lit(1)).as("w"))
    // both directions in ONE pass over the aggregated pairs: the old
    // self-unionByName REPLICATED the whole fact join+rollup subtree
    // per branch (executed twice under the operator's edge cache, and
    // reprinted under every downstream cached reference — g01's serve
    // plan carried 222 Exchange nodes before, 154 of them phantom
    // copies of this subtree). Same rows, same weights.
    pairs.select(explode(array(
        struct(col("cn").as("src"), col("sn").as("dst")),
        struct(col("sn").as("src"), col("cn").as("dst")))).as("e"),
      col("w"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("w"))
  }

  private val tradeEdgesCte: String =
    """WITH pairs AS (
      |  SELECT 'c:' || o_custkey AS cn, 's:' || l_suppkey AS sn,
      |    CAST(COUNT(*) AS BIGINT) AS w
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |),
      |edges AS (
      |  SELECT cn AS src, sn AS dst, w FROM pairs
      |  UNION ALL
      |  SELECT sn, cn, w FROM pairs
      |)""".stripMargin

  def g01Pagerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank
      .pageRank(tradeEdges(s, dir), col("src"), col("dst"), col("w"), iters = 3)
      .orderBy("node")

  val g01Oracle: String =
    graft.operators.PageRank.oracleCtes(tradeEdgesCte, iters = 3) +
      "\nSELECT node, rank FROM r3 ORDER BY node"

  /** Personalized PageRank over the same trade graph
    * ([[graft.operators.PageRank.personalized]], 3 iterations, d=0.85):
    * teleport mass restricted to the BUILDING-segment customers — the
    * seeded-trust propagation behind "quality radiates from vetted
    * sources" corpus weighting (Haveliwala, WWW 2002). Nodes with no
    * trust path from any seed score exactly 0; the oracle replays the
    * seed CASE, the seed-restricted teleport/dangling shares, and all
    * three iterations with identical floor-division arithmetic.
    */
  def g02PprSeeded(s: SparkSession, dir: String): DataFrame = {
    val seeds = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(concat(lit("c:"), col("c_custkey")).as("node"))
    graft.operators.PageRank
      .personalized(tradeEdges(s, dir), col("src"), col("dst"), col("w"),
        seeds, col("node"), iters = 3)
      .orderBy("node")
  }

  val g02Oracle: String =
    graft.operators.PageRank.personalizedOracleCtes(
      tradeEdgesCte,
      "SELECT 'c:' || c_custkey AS node FROM customer WHERE c_mktsegment = 'BUILDING'",
      iters = 3) +
      "\nSELECT node, rank FROM r3 ORDER BY node"

  /** Winsorization — clamp a measure to its per-group [p10, p90] band
    * (exact `percentile_disc` values, c07's ordered-set aggregate) and
    * report raw vs winsorized sums and clamp counts. The robust-stats
    * twin of q38: outliers there are FLAGGED, here their influence is
    * BOUNDED. Percentiles of integer-quantized measures are corpus
    * values (no interpolation), so every output column is an exact
    * BIGINT; the dim-sized stats frame joins back broadcast-style and
    * the clamp is a narrow projection.
    */
  def q39Winsorize(s: SparkSession, dir: String): DataFrame = {
    // pure builder — no temp view (a fixed-name view is a hidden
    // session-catalog mutation; two concurrent builders would race);
    // percentile_disc is an ordered-set aggregate, reachable from the
    // DataFrame API through expr()
    val base = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        round(col("l_quantity")).cast("long").as("q"))
    val st = base.groupBy("flag").agg(
      expr("CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY q) AS BIGINT)").as("p10"),
      expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY q) AS BIGINT)").as("p90"))
    base.join(broadcast(st), Seq("flag"))
      .groupBy("flag", "p10", "p90")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("q") < col("p10"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("q") > col("p90"), 1L).otherwise(0L)).as("n_hi"),
        sum(col("q")).as("sum_raw"),
        sum(greatest(col("p10"), least(col("p90"), col("q")))).as("sum_winsor"))
      .orderBy("flag")
  }

  /** DuckDB replay: percentile_disc = smallest value with cume_dist ≥ p
    * (the SQL-standard definition c07 already pinned), then the same
    * join-back, clamp, and exact-long sums.
    */
  val q39Oracle: String =
    """WITH b AS (
      |  SELECT l_returnflag AS flag, CAST(ROUND(l_quantity) AS BIGINT) AS q FROM lineitem
      |), d AS (
      |  SELECT flag, q, cume_dist() OVER (PARTITION BY flag ORDER BY q) AS cd FROM b
      |), st AS (
      |  SELECT flag,
      |    CAST(MIN(q) FILTER (WHERE cd >= 0.1) AS BIGINT) AS p10,
      |    CAST(MIN(q) FILTER (WHERE cd >= 0.9) AS BIGINT) AS p90
      |  FROM d GROUP BY flag
      |)
      |SELECT b.flag, st.p10, st.p90, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN q < p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |  CAST(SUM(CASE WHEN q > p90 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |  CAST(SUM(q) AS BIGINT) AS sum_raw,
      |  CAST(SUM(GREATEST(p10, LEAST(p90, q))) AS BIGINT) AS sum_winsor
      |FROM b JOIN st ON b.flag = st.flag
      |GROUP BY b.flag, st.p10, st.p90 ORDER BY b.flag""".stripMargin

  /** Boxplot profile per group — quartiles + Tukey 1.5·IQR outlier
    * fences — completing the robust-stats family (q38 flags by
    * z-score, q39 bounds influence, q42 profiles the distribution).
    * Quartiles are exact `percentile_disc` corpus values (c07's
    * SQL-standard cume_dist definition); the fence predicates are
    * DOUBLED into pure integers (2v < 2·p25 − 3·IQR) so membership at
    * the fence can never flap on float rounding — the q38 discipline.
    * One ordered-set aggregate on the dim-keyed frame, one broadcast
    * attach, one counting pass.
    */
  def q42Boxplot(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      col("l_returnflag").as("flag"),
      Money.cents(col("l_extendedprice")).as("v"))
    val st = base.groupBy("flag").agg(
      expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p25"),
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p50"),
      expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p75"))
    val iqr = col("p75") - col("p25")
    base.join(broadcast(st), Seq("flag"))
      .groupBy("flag", "p25", "p50", "p75")
      .agg(
        count(lit(1)).as("n"),
        sum(when(lit(2) * col("v") < lit(2) * col("p25") - lit(3) * iqr, 1L)
          .otherwise(0L)).as("n_lo_outliers"),
        sum(when(lit(2) * col("v") > lit(2) * col("p75") + lit(3) * iqr, 1L)
          .otherwise(0L)).as("n_hi_outliers"))
      .select(col("flag"), col("n"), col("p25"), col("p50"), col("p75"),
        iqr.as("iqr"), col("n_lo_outliers"), col("n_hi_outliers"))
      .orderBy("flag")
  }

  val q42Oracle: String =
    """WITH b AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS v
      |  FROM lineitem
      |), d AS (
      |  SELECT flag, v, cume_dist() OVER (PARTITION BY flag ORDER BY v) AS cd FROM b
      |), st AS (
      |  SELECT flag,
      |    CAST(MIN(v) FILTER (WHERE cd >= 0.25) AS BIGINT) AS p25,
      |    CAST(MIN(v) FILTER (WHERE cd >= 0.5) AS BIGINT) AS p50,
      |    CAST(MIN(v) FILTER (WHERE cd >= 0.75) AS BIGINT) AS p75
      |  FROM d GROUP BY flag
      |)
      |SELECT b.flag, COUNT(*) AS n, st.p25, st.p50, st.p75,
      |  st.p75 - st.p25 AS iqr,
      |  CAST(SUM(CASE WHEN 2*v < 2*st.p25 - 3*(st.p75 - st.p25) THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_outliers,
      |  CAST(SUM(CASE WHEN 2*v > 2*st.p75 + 3*(st.p75 - st.p25) THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_outliers
      |FROM b JOIN st ON b.flag = st.flag
      |GROUP BY b.flag, st.p25, st.p50, st.p75 ORDER BY b.flag""".stripMargin

  /** Deterministic HyperLogLog distinct estimates
    * ([[graft.operators.Sketches.hllDistinctByKey]], p=6 / 64
    * registers) per return flag, over TWO value columns at once so one
    * gated query exercises BOTH estimator branches on real data:
    * l_orderkey (thousands of distincts → raw harmonic-mean branch,
    * zero empty registers) and l_suppkey (≈ supplier-count distincts →
    * the paper's linear-counting small-range branch). `regs_fp` pins
    * every register value, not just the estimate — the oracle replays
    * index, rho, and max from the same h60 bits.
    */
  def q43HllDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import graft.functions.Hashing
    // ONE scan, ONE shuffle: both register columns ride the same
    // groupBy via the one-pass hllAgg aggregator (SketchesSpec pins it
    // bit-equal to the two-stage hllSketchByKey, which q44 exercises
    // oracle-gated through its persisted lake) — the previous
    // two-independent-pipelines + join form paid a second full
    // lineitem pass for nothing
    val sk = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("key"))
      .agg(
        Sketches.hllAgg(p = 6)(Hashing.h60(col("l_orderkey").cast("string")))
          .as("regs_ord"),
        Sketches.hllAgg(p = 6)(Hashing.h60(col("l_suppkey").cast("string")))
          .as("regs_sup"))
    def fp(c: Column): Column =
      md5(concat_ws(",", transform(c, r => r.cast("string"))))
    val a = graft.operators.Sketches.hllEstimate(
      sk.withColumnRenamed("regs_ord", "regs"), p = 6)
      .select(col("key"), col("regs_sup"),
        col("v_zero").as("v_zero_ord"),
        col("est_micro").as("est_ord_micro"),
        fp(col("regs")).as("regs_fp_ord"))
    graft.operators.Sketches.hllEstimate(
      a.withColumnRenamed("regs_sup", "regs"), p = 6)
      .select(col("key"),
        col("v_zero_ord"), col("est_ord_micro"), col("regs_fp_ord"),
        col("v_zero").as("v_zero_sup"),
        col("est_micro").as("est_sup_micro"),
        fp(col("regs")).as("regs_fp_sup"))
      .orderBy("key")
  }

  /** lineitem leg of [[DuckOracle.hllSql]] (the single-owner HLL
    * register replay), keyed on return flag.
    */
  private def hllLegSql(
      sfx: String, valueSql: String, extraWhere: String = ""): String =
    DuckOracle.hllSql(sfx, "lineitem", "l_returnflag", valueSql, extraWhere)

  val q43Oracle: String =
    s"""WITH ${hllLegSql("o", "CAST(l_orderkey AS VARCHAR)")},
       |${hllLegSql("s", "CAST(l_suppkey AS VARCHAR)")}
       |SELECT o.key,
       |  o.v_zero AS v_zero_ord, o.est_micro AS est_ord_micro,
       |  o.regs_fp AS regs_fp_ord,
       |  s.v_zero AS v_zero_sup, s.est_micro AS est_sup_micro,
       |  s.regs_fp AS regs_fp_sup
       |FROM o_est o JOIN s_est s USING (key) ORDER BY o.key""".stripMargin

  /** Incremental HLL via PERSISTED, MERGED register sketches — the q23
    * pattern on the register form: per-(flag, ship-year) sketches are
    * written to a sketch lake, read back, and merged per flag by
    * element-wise register MAX
    * ([[graft.operators.Sketches.hllMergeSketches]]). Max is
    * associative/commutative/idempotent per register, so the merged
    * sketch is BIT-IDENTICAL to the one-shot sketch over the union —
    * the oracle computes exactly that one-shot replay, and `regs_fp`
    * pins all 64 merged registers. 48 bytes of register state per
    * increment row vs KMV's 480: the fixed-size-merge property that
    * makes HLL the sketch production lakes standardize on.
    */
  def q44HllMerge(s: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.wiped(s, "hll_sketches", dir)
    val li = t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
    graft.operators.Sketches.hllSketchByKey(
      li,
      struct(col("l_returnflag").as("flag"), year(col("l_shipdate")).as("yr")),
      col("l_orderkey"), p = 6)
      .write.mode("overwrite").parquet(out)
    val merged = graft.operators.Dedup.scopedCache(
      graft.operators.Sketches.hllMergeSketches(
        s.read.parquet(out), col("key.flag"), col("regs"), p = 6))
    graft.operators.Sketches.hllEstimate(merged, p = 6)
      .select(col("key"), col("v_zero"), col("est_micro"),
        md5(concat_ws(",", transform(col("regs"), r => r.cast("string"))))
          .as("regs_fp"))
      .orderBy("key")
  }

  val q44Oracle: String =
    s"""WITH ${hllLegSql("m", "CAST(l_orderkey AS VARCHAR)",
        " AND l_shipdate IS NOT NULL")}
       |SELECT key, v_zero, est_micro, regs_fp
       |FROM m_est ORDER BY key""".stripMargin

  /** HLL sketch-LAKE lifecycle — the q26/q27 compaction treatment for
    * the register family: per-(flag, ship-year) increments land in a
    * lake as (key = flag, regs) rows (several rows per flag — the
    * daily-append shape), [[graft.operators.Sketches.compactHllLake]]
    * rewrites the lake to ONE merged row per flag (fingerprint-gated,
    * then swapped in by the journaled core),
    * and the post-compaction read + [[graft.operators.Sketches
    * .hllMergeSketches]] (idempotent over the already-merged rows —
    * register max is a semilattice) estimates per flag. Because
    * compaction is BIT-equivalent under merge, the result must equal
    * the one-shot q44 replay exactly — which is what this oracle (the
    * SAME text as q44's) asserts, `regs_fp` pinning all 64 registers
    * through write → compact → merge. The wrong-p refusal is
    * SketchesSpec's, the crash windows JournaledSwapSpec's.
    */
  def q45HllCompact(s: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.wiped(s, "hll_lake", dir)
    val li = t(s, dir, "lineitem").filter(col("l_shipdate").isNotNull)
    // ONE corpus scan builds every increment: sketch at the composite
    // (flag, yr) grain, then store under the MERGE key (flag) so the
    // lake holds one row per (flag, increment) — the multi-increment
    // shape compaction exists for, without a per-year rescan
    graft.operators.Sketches.hllSketchByKey(
      li,
      struct(col("l_returnflag").as("flag"), year(col("l_shipdate")).as("yr")),
      col("l_orderkey"), p = 6)
      .select(col("key.flag").as("key"), col("regs"))
      .write.mode("overwrite").parquet(out)
    graft.operators.Sketches.compactHllLake(s, out, p = 6)
    val merged = graft.operators.Dedup.scopedCache(
      graft.operators.Sketches.hllMergeSketches(
        s.read.parquet(out), col("key"), col("regs"), p = 6))
    graft.operators.Sketches.hllEstimate(merged, p = 6)
      .select(col("key"), col("v_zero"), col("est_micro"),
        md5(concat_ws(",", transform(col("regs"), r => r.cast("string"))))
          .as("regs_fp"))
      .orderBy("key")
  }

  /** Row-level z-score outliers (|z| > 1.5 population SDs from the
    * group mean) with the ENTIRE threshold predicate in exact integer
    * arithmetic — membership can never flap on floating-point rounding.
    * See [[graft.operators.Stats.zscoreOutliers]]: one moment
    * aggregate, one broadcast attach, one narrow filter.
    */
  def q38OutlierZscore(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.zscoreOutliers(
      t(s, dir, "lineitem"),
      col("l_returnflag"),
      round(col("l_quantity")),
      kNum = 3, kDen = 2,
      keep = Seq("l_orderkey", "l_linenumber"))
      .orderBy("grp", "l_orderkey", "l_linenumber")

  val q38Oracle: String =
    """WITH b AS (
      |  SELECT l_returnflag AS grp, l_orderkey, l_linenumber,
      |    CAST(ROUND(l_quantity) AS BIGINT) AS x
      |  FROM lineitem
      |), s AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(x * x) AS BIGINT) AS sum_xx
      |  FROM b GROUP BY grp
      |)
      |SELECT b.grp, l_orderkey, l_linenumber, x, n, sum_x, sum_xx
      |FROM b JOIN s ON b.grp = s.grp
      |WHERE 4 * (n * x - sum_x) * (n * x - sum_x) > 9 * (n * sum_xx - sum_x * sum_x)
      |ORDER BY b.grp, l_orderkey, l_linenumber""".stripMargin

  val q34Oracle: String =
    """SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
      |  o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin

  /** Wide-format pivot — `groupBy.pivot` with EXPLICIT pivot values
    * (the scale contract: implicit values cost a distinct-scan job and
    * make the output schema data-dependent, which no downstream job
    * can bind to). One aggregation pass; money in integer cents.
    */
  def q31Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")))
      .select(col("l_returnflag"),
        col("F").as("f_cents"), col("O").as("o_cents"))
      .orderBy("l_returnflag")

  /** Wide→long melt via Spark 4 `unpivot` — the inverse surface of
    * q31: melt the pivoted frame back to (flag, status, cents) rows.
    * unpivot(pivot(x)) must equal the plain grouped rollup, which is
    * exactly what the oracle computes — the round trip is the gate.
    * (`unpivot` drops null cells by contract; every (flag, status)
    * cell is populated here, so the melt is lossless.)
    */
  def q32Unpivot(s: SparkSession, dir: String): DataFrame =
    q31Pivot(s, dir)
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("f_cents"), col("o_cents")),
        "status_col", "cents")
      .withColumn("l_linestatus",
        when(col("status_col") === "f_cents", "F").otherwise("O"))
      .select("l_returnflag", "l_linestatus", "cents")
      .orderBy("l_returnflag", "l_linestatus")

  val q32Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val q31Oracle: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS f_cents,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS o_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val q28Oracle: String = {
    val h = DuckOracle.h60("CAST(l_orderkey AS VARCHAR)")
    """WITH h AS (
      |  SELECT DISTINCT CAST(year(l_shipdate) AS INT) AS yr, HEXPR AS h
      |  FROM lineitem WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL
      |), bk AS (
      |  SELECT yr, h FROM h QUALIFY row_number() OVER (PARTITION BY yr ORDER BY h) <= 64
      |), th AS (
      |  SELECT yr, CASE WHEN COUNT(*) < 64 THEN 1152921504606846976 ELSE MAX(h) END AS theta
      |  FROM bk GROUP BY yr
      |), pairs AS (
      |  SELECT ta.yr AS key, GREATEST(LEAST(ta.theta, tb.theta), 1) AS theta
      |  FROM th ta JOIN th tb ON tb.yr = ta.yr + 1
      |), memb AS (
      |  SELECT p.key, x.h,
      |    MAX(CASE WHEN x.side = 'a' THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN x.side = 'b' THEN 1 ELSE 0 END) AS in_b
      |  FROM pairs p JOIN (
      |    SELECT yr AS key, h, 'a' AS side FROM bk
      |    UNION ALL
      |    SELECT yr - 1 AS key, h, 'b' AS side FROM bk
      |  ) x ON x.key = p.key AND x.h < p.theta
      |  GROUP BY p.key, x.h
      |), agg AS (
      |  SELECT key,
      |    CAST(SUM(in_a * in_b) AS INT) AS n_inter,
      |    CAST(COUNT(*) AS INT) AS n_union,
      |    CAST(SUM(in_a * (1 - in_b)) AS INT) AS n_only_a,
      |    CAST(SUM(in_b * (1 - in_a)) AS INT) AS n_only_b
      |  FROM memb GROUP BY key
      |)
      |SELECT p.key, p.theta,
      |  COALESCE(a.n_inter, 0) AS n_inter,
      |  COALESCE(a.n_union, 0) AS n_union,
      |  COALESCE(a.n_only_a, 0) AS n_only_a,
      |  COALESCE(a.n_only_b, 0) AS n_only_b,
      |  CAST(COALESCE(a.n_inter, 0) AS DOUBLE) * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_inter,
      |  CAST(COALESCE(a.n_union, 0) AS DOUBLE) * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_union,
      |  CAST(COALESCE(a.n_only_a, 0) AS DOUBLE) * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_only_a,
      |  CAST(COALESCE(a.n_only_b, 0) AS DOUBLE) * 1152921504606846976.0 / CAST(p.theta AS DOUBLE) AS est_only_b,
      |  CASE WHEN COALESCE(a.n_union, 0) > 0
      |       THEN CAST(a.n_inter AS DOUBLE) / CAST(a.n_union AS DOUBLE) END AS jaccard
      |FROM pairs p LEFT JOIN agg a ON a.key = p.key
      |ORDER BY p.key""".stripMargin.replace("HEXPR", h)
  }

  /** Heavy hitters over the event stream's user key
    * ([[graft.operators.Sketches.heavyHitters]]): Misra–Gries
    * candidates in one bounded-state pass (≤ k counters per partition
    * cross the wire — no per-key shuffle), then an exact count of just
    * the ≤ k candidates. MG guarantees the candidate set covers every
    * key above n/(k+1), so the output is EXACTLY the true heavy
    * hitters with exact counts — which is what lets DuckDB replay an
    * approximate-sketch operator as plain GROUP BY … HAVING. This is
    * the skew probe that decides when a join key needs
    * [[graft.operators.ScaleJoins.saltedJoin]].
    */
  def q24HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.heavyHitters(
      t(s, dir, "events"), col("user_id"), k = 127)

  val q24Oracle: String =
    """WITH n AS (SELECT COUNT(*) AS total FROM events WHERE user_id IS NOT NULL)
      |SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt,
      |  (SELECT total FROM n) AS n_total,
      |  CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM n) AS share
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY user_id
      |HAVING CAST(COUNT(*) AS DOUBLE) > (SELECT total FROM n) / 128.0
      |ORDER BY cnt DESC, key""".stripMargin

  /** Incremental heavy hitters via a PERSISTED, MERGED Misra–Gries
    * sketch lake ([[graft.operators.Sketches.mgSketch]] → parquet →
    * [[graft.operators.Sketches.heavyHittersFromSketches]]): one MG
    * summary per event-type increment (≤ k+1 narrow rows each — the
    * per-day ingest shape), merged WITHOUT re-scanning any increment
    * (sum counters, subtract the (k+1)-th largest — the mergeable-
    * summaries rule, so the global n/(k+1) guarantee survives arbitrary
    * merge trees), then ONE exact verify pass over the union. Output is
    * exactly the global heavy hitters — the same GROUP BY…HAVING replay
    * as q24, at a tighter k, through the incremental path.
    */
  def q26HeavyHittersMerge(s: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.wiped(s, "mg_sketches", dir)
    // null-safe increment key (the q27 / shingleSets discipline): a
    // null event_type must land in exactly one increment — raw-column
    // equality would silently drop its rows from every sketch total
    // (and a null element would NPE the driver-side sort)
    val ev = t(s, dir, "events")
      .withColumn("__etype", coalesce(col("event_type"), lit("\u0000__null_type")))
    // increments = event types (the bounded "source" axis; a production
    // pipeline stamps ingest dates). ALL increments sketch in ONE
    // corpus pass (Sketches.mgSketchesByInc) — the old shape collected
    // the distinct types to the driver and ran one filtered
    // scan-aggregate-collect job PER type (increments+1 full scans of
    // events; guide §1.2 "don't compute things twice" / §2.3 map-side
    // partial aggregation bounds the shuffle at k counters per
    // (partition, increment)). The __seed__ empty increment keeps the
    // empty-corpus contract: a lake with zero data increments still
    // holds one valid marker row.
    graft.operators.Sketches.mgSketch(
      ev.limit(0), col("user_id"), k = 149, inc = "__seed__")
      .unionByName(graft.operators.Sketches.mgSketchesByInc(
        ev, col("user_id"), col("__etype"), k = 149))
      .write.mode("overwrite").parquet(out)
    graft.operators.Sketches.heavyHittersFromSketches(
      ev, col("user_id"), s.read.parquet(out), k = 149)
  }

  val q26Oracle: String =
    """WITH n AS (SELECT COUNT(*) AS total FROM events WHERE user_id IS NOT NULL)
      |SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt,
      |  (SELECT total FROM n) AS n_total,
      |  CAST(COUNT(*) AS DOUBLE) / (SELECT total FROM n) AS share
      |FROM events WHERE user_id IS NOT NULL
      |GROUP BY user_id
      |HAVING CAST(COUNT(*) AS DOUBLE) > (SELECT total FROM n) / 150.0
      |ORDER BY cnt DESC, key""".stripMargin

  /** Length-distribution profile per language from a DETERMINISTIC
    * bottom-k hash row sample
    * ([[graft.operators.Sketches.sampleQuantilesByKey]]): one pass,
    * ≤ k (hash, value) pairs per (partition, lang) shuffled, exact `n`
    * from the same aggregate. Groups under k keep every row (their
    * quantiles are exact); larger groups read nearest-rank quantiles
    * off the uniform sample. The oracle replays sample MEMBERSHIP
    * (`sample_fp` pins all k pairs), the selection rule, and the
    * estimates bit-for-bit — the engine-independent alternative to
    * `approx_percentile`, whose Greenwald–Khanna state is not
    * replayable.
    */
  def q25SampleQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.sampleQuantilesByKey(
      t(s, dir, "documents"),
      col("lang"), col("doc_id"), col("n_chars"),
      k = 64, qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy("key")

  val q25Oracle: String =
    s"""WITH ${DuckOracle.pairSampleSql("qs", "documents", "lang",
        "CAST(doc_id AS VARCHAR)", "n_chars",
        k = 64, qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99))}
       |SELECT key, n, m_sample, p25, p50, p75, p90, p99, sample_fp
       |FROM qs_est ORDER BY key""".stripMargin

  /** Incremental quantiles via a PERSISTED, MERGED sample lake
    * ([[graft.operators.Sketches.pairSampleByKey]] per source
    * increment → parquet → [[graft.operators.Sketches.mergePairSamples]]
    * → shared [[graft.operators.Sketches.quantilesFromSample]]):
    * bottom-k (h, v) pairs over row-disjoint increments form a
    * semilattice, so the merged sample — and therefore every estimate
    * and the `sample_fp` — is BIT-IDENTICAL to the one-shot q25 form,
    * which is exactly what this oracle (the SAME text as q25's)
    * asserts. The corpus is scanned once per increment at ingest,
    * never at estimate time.
    */
  def q27QuantileMerge(s: SparkSession, dir: String): DataFrame = {
    val out = graft.queries.Scratch.wiped(s, "quantile_samples", dir)
    // null-safe increment key (the shingleSets null-block discipline):
    // a null source must still land in exactly one increment or its
    // rows silently vanish from both n and the sample
    val docs = t(s, dir, "documents")
      .withColumn("__src", coalesce(col("source"), lit("\u0000__null_src")))
    // ALL per-source increments sample in ONE corpus pass
    // (Sketches.pairSamplesByInc): bottom-k pairs per (source, lang)
    // are a pure function of the (id, value) set, so each lake row is
    // BIT-identical to the old one-filtered-scan-per-source shape —
    // which paid sources+1 full scans of documents plus a
    // distinct+collect (guide §1.2). The empty seed keeps the
    // empty-corpus write schema-valid, as before.
    graft.operators.Sketches.pairSampleByKey(
      docs.limit(0), col("lang"), col("doc_id"), col("n_chars"), k = 64)
      .unionByName(graft.operators.Sketches.pairSamplesByInc(
        docs, col("lang"), col("__src"), col("doc_id"), col("n_chars"), k = 64))
      .write.mode("overwrite").parquet(out)
    graft.operators.Sketches.quantilesFromSample(
      graft.operators.Sketches.mergePairSamples(s.read.parquet(out), k = 64),
      qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      .orderBy("key")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q24_heavy_hitters" -> (q24HeavyHitters _),
    "q26_heavy_hitters_merge" -> (q26HeavyHittersMerge _),
    "q27_quantile_merge" -> (q27QuantileMerge _),
    "q25_sample_quantiles" -> (q25SampleQuantiles _),
    "q23_kmv_merge" -> (q23KmvMerge _),
    "q28_kmv_overlap" -> (q28KmvOverlap _),
    "q30_rollup" -> (q30Rollup _),
    "q31_pivot" -> (q31Pivot _),
    "q32_unpivot" -> (q32Unpivot _),
    "q33_grouping_sets" -> (q33GroupingSets _),
    "q35_rank_windows" -> (q35RankWindows _),
    "q36_full_outer" -> (q36FullOuter _),
    "q37_corr_moments" -> (q37CorrMoments _),
    "q38_outlier_zscore" -> (q38OutlierZscore _),
    "q39_winsorize" -> (q39Winsorize _),
    "q40_revenue_share" -> (q40RevenueShare _),
    "q41_skyline" -> (q41Skyline _),
    "g01_pagerank" -> (g01Pagerank _),
    "g02_ppr_seeded" -> (g02PprSeeded _),
    "q42_boxplot" -> (q42Boxplot _),
    "q43_hll_distinct" -> (q43HllDistinct _),
    "q44_hll_merge" -> (q44HllMerge _),
    "q45_hll_compact" -> (q45HllCompact _),
    "q34_cube" -> (q34Cube _),
    "q22_kmv_distinct" -> (q22KmvDistinct _),
    "q21_salted_flag_join" -> (q21SaltedFlagJoin _),
    "q19_top_per_priority" -> (q19TopPerPriority _),
    "q20_status_metrics" -> (q20StatusMetrics _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_revenue_by_nation" -> (q02RevenueByNation _),
    "q03_top_orders" -> (q03TopOrders _),
    "q04_customers_without_orders" -> (q04CustomersWithoutOrders _),
    "q05_orders_with_big_lineitem" -> (q05OrdersWithBigLineitem _),
    "q06_latest_event_per_user" -> (q06LatestEventPerUser _),
    "q07_event_type_stats" -> (q07EventTypeStats _),
    "q08_distinct_users" -> (q08DistinctUsers _),
    "q09_union_segments" -> (q09UnionSegments _),
    "q10_dup_partsupp" -> (q10DupPartsupp _),
    "q11_priority_rank" -> (q11PriorityRank _),
    "q12_part_glob" -> (q12PartGlob _),
    "q13_monthly_orders" -> (q13MonthlyOrders _),
    "q14_region_customers" -> (q14RegionCustomers _),
    "q17_lineitem_totals" -> (q17LineitemTotals _),
    "q18_orders_no_lineitem" -> (q18OrdersNoLineitem _)
  )

  val oracles: Map[String, String] = Map(
    "q24_heavy_hitters" -> q24Oracle,
    "q26_heavy_hitters_merge" -> q26Oracle,
    "q27_quantile_merge" -> q25Oracle, // merged ≡ one-shot: same oracle text
    "q25_sample_quantiles" -> q25Oracle,
    "q23_kmv_merge" -> q23Oracle,
    "q28_kmv_overlap" -> q28Oracle,
    "q30_rollup" -> q30Oracle,
    "q31_pivot" -> q31Oracle,
    "q32_unpivot" -> q32Oracle,
    "q33_grouping_sets" -> q33Oracle,
    "q35_rank_windows" -> q35Oracle,
    "q36_full_outer" -> q36Oracle,
    "q37_corr_moments" -> q37Oracle,
    "q38_outlier_zscore" -> q38Oracle,
    "q39_winsorize" -> q39Oracle,
    "q40_revenue_share" -> q40Oracle,
    "q41_skyline" -> q41Oracle,
    "g01_pagerank" -> g01Oracle,
    "g02_ppr_seeded" -> g02Oracle,
    "q42_boxplot" -> q42Oracle,
    "q43_hll_distinct" -> q43Oracle,
    "q44_hll_merge" -> q44Oracle,
    "q45_hll_compact" -> q44Oracle, // compact ∘ merge ≡ one-shot: same oracle text
    "q34_cube" -> q34Oracle,
    "q22_kmv_distinct" -> q22Oracle,
    "q21_salted_flag_join" -> q21Oracle,
    "q19_top_per_priority" -> q19Oracle,
    "q20_status_metrics" -> q20Oracle,
    "q01_pricing_summary" -> q01Oracle,
    "q02_revenue_by_nation" -> q02Oracle,
    "q03_top_orders" -> q03Oracle,
    "q04_customers_without_orders" -> q04Oracle,
    "q05_orders_with_big_lineitem" -> q05Oracle,
    "q06_latest_event_per_user" -> q06Oracle,
    "q07_event_type_stats" -> q07Oracle,
    "q08_distinct_users" -> q08Oracle,
    "q09_union_segments" -> q09Oracle,
    "q10_dup_partsupp" -> q10Oracle,
    "q11_priority_rank" -> q11Oracle,
    "q12_part_glob" -> q12Oracle,
    "q13_monthly_orders" -> q13Oracle,
    "q14_region_customers" -> q14Oracle,
    "q17_lineitem_totals" -> q17Oracle,
    "q18_orders_no_lineitem" -> q18Oracle
  )
}
