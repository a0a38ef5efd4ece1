package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Defaults are sized for the harness (`local[32]`, 128 GiB) but every
  * knob is chosen to survive a real multi-executor cluster at ~100 TB:
  *   - `shuffle.partitions` matches core count locally; AQE coalesces
  *     small post-shuffle partitions and splits skewed ones, so the same
  *     code scales when a cluster sets a higher initial value.
  *   - Adaptive execution ON: runtime re-planning (broadcast conversion,
  *     skew-join splitting) is the single highest-leverage setting at
  *     scale.
  *   - UTC session timezone: deterministic timestamp semantics across
  *     engines (matches the DuckDB oracle).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100). It
    * is a static conf, read once per JVM from the session of the first
    * thread that generates code. A served request whose plan shape was
    * seen before reuses the compiled classes only while they stay
    * cached, and one JVM that builds and serves indexes needs more than
    * 100: one perfbench run (seed 3, 4 cores) compiled about 185
    * distinct classes on search_serve and 203 on maintain_batch. At 100
    * the verbs evicted each other, and a warm search request compiled
    * about 10 classes. 1000 holds both working sets with room to spare.
    * Cost, one traced run each: peak RSS 1712 → 1757 MiB and live heap
    * 253 → 253 MiB on search_serve, 1410 → 1309 MiB and 126 → 130 MiB
    * on maintain_batch (the classes sit in metaspace, not the heap).
    */
  private[graft] val CodegenCacheEntries = 1000

  /** Session knobs resolved through the layered config
    * (graft.pipeline.GraftConfig): builder defaults < optional YAML at
    * `$GRAFT_CONFIG` < `GRAFT_SESSION_*` env vars. Mirrors the
    * reference's config precedence (/root/reference/src/config.py:14-57)
    * for the constants that used to be hard-coded here.
    */
  private[graft] def knobs(
      cores: String, env: Map[String, String] = sys.env): graft.pipeline.GraftConfig = {
    val defaults = Map(
      "session.shuffle_partitions" -> cores,
      "session.broadcast_threshold_bytes" -> (64L * 1024 * 1024).toString,
      "session.timezone" -> "UTC")
    // Only GRAFT_SESSION_* vars reach the session knobs: an unrelated
    // GRAFT_* variable (including GRAFT_CONFIG itself, which would leak
    // in as key `config`) must not change or crash every session. The
    // YAML layer is opt-in via an explicit GRAFT_CONFIG — a stray
    // graft.yaml in the cwd must not silently reconfigure tests, Bench
    // and Verify; an explicitly named file that is missing fails loudly.
    val sessEnv = env.filter { case (k, _) => k.startsWith("GRAFT_SESSION_") }
    env.get("GRAFT_CONFIG") match {
      case Some(p) =>
        graft.pipeline.GraftConfig.load(java.nio.file.Paths.get(p), defaults, sessEnv)
      case None =>
        graft.pipeline.GraftConfig(
          defaults ++ graft.pipeline.GraftConfig.envOverlay(sessEnv, "GRAFT_"))
    }
  }

  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder = {
    val k = knobs(cores)
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", k.getInt("session.shuffle_partitions", cores.toInt))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold",
        k.getOrElse("session.broadcast_threshold_bytes", ""))
      .config("spark.sql.session.timeZone", k.getOrElse("session.timezone", "UTC"))
      // testdata events.ts is parquet TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects; read it as long nanoseconds instead.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // Defensive cap on plan EXPLAIN strings (default is effectively
      // unbounded): iterative operators can reach plans whose printed
      // form is orders of magnitude larger than their node count (every
      // nested InMemoryRelation / AdaptiveSparkPlan reprints its whole
      // subtree), and AQE builds that string on EVERY stage update for
      // the UI event — an unbounded cap turns a deep plan into a
      // driver OOM. 8 MB keeps real plans fully readable.
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // per-process warehouse: concurrent runs must not clobber each
      // other's saveAsTable data
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
