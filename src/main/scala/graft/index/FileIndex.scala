package graft.index

import java.security.MessageDigest
import java.util.HexFormat

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Compact
import graft.functions.Glob

/** File indexing & duplicate detection (SURVEY §2.1 S7-S10, §2.4 A1-A3) —
  * the reference's FileIndexingSystem
  * (/root/reference/src/file_indexing_system.py) re-expressed as a
  * distributed scan + hash + Parquet-backed index.
  *
  * Scale design: `binaryFile` lists and reads files across executors;
  * selecting only metadata columns prunes content IO entirely (the
  * reference's "lazy hash" heuristic is Catalyst column pruning here).
  * The index persists as one path-ordered Parquet lake, replaced
  * whole on each [[save]]; "upsert" keeps the INCOMING row for every
  * path it carries (see [[upsert]]).
  */
object FileIndex {

  /** The shared metadata projection (single owner — [[indexMetadata]]
    * and [[indexWithHash]] previously duplicated it, so extension
    * semantics could drift between the two index variants).
    */
  private def metaProjection(df: DataFrame): DataFrame =
    df.select(
      col("path").as("file_path"),
      substring_index(col("path"), "/", -1).as("file_name"),
      col("length").as("file_size"),
      col("modificationTime").as("modified_time"))
      .withColumn("extension",
        lower(when(col("file_name").contains("."),
          regexp_extract(col("file_name"), "\\.([^.]+)$", 1)).otherwise("")))

  /** Metadata-only index of a directory tree (no content read — column
    * pruning keeps the binaryFile scan to the file listing).
    */
  def indexMetadata(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val base = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
    val withGlob = glob.fold(base)(g => base.option("pathGlobFilter", g))
    metaProjection(withGlob.load(dir))
  }

  /** JCA digest names for the reference's HashAlgorithm enum. */
  private val HashNames = Map(
    "md5" -> "MD5", "sha1" -> "SHA-1", "sha256" -> "SHA-256", "sha512" -> "SHA-512")

  /** The session's Hadoop configuration as the hash read sees it: the
    * SparkContext's entries overlaid with the session's SQL conf (the
    * same layering the `binaryFile` listing reads with), so
    * `spark.hadoop.*`, s3a credentials and custom `fs.<scheme>.impl`
    * settings reach the hash too. Shipped once per scan as a broadcast
    * of its entries; [[conf]] is built at most once per broadcast and
    * JVM, never per file: a `Configuration` parses `core-default.xml`
    * on its first lookup. The one place `src/main` constructs one
    * (pinned by SourceLintSpec).
    */
  private final class HashConf(entries: Map[String, String]) extends Serializable {
    @transient lazy val conf: Configuration = {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** One 1 MiB read buffer per task thread, reused across files. */
  private val readBuf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](1 << 20))

  /** Streaming content hash: the file flows through MessageDigest in
    * 1 MiB chunks via the Hadoop FS API — the content is NEVER
    * materialized. binaryFile's `content` column is one JVM byte array
    * per file, so a ≥ 2 GiB file fails the scan outright and multi-GB
    * files OOM executors — exactly the large media/backup files a
    * dedup index most needs to hash (the reference also hashes in
    * chunks, file_indexing_system.py `_calculate_hash`). Per file it
    * pays one open and the bytes: the file system comes from the
    * scan's shared `conf` ([[HashConf]]), the buffer is the thread's
    * ([[readBuf]]), and the lowercase hex is `HexFormat`'s.
    */
  private[index] def streamHashHex(path: String, jcaName: String, conf: Configuration): String = {
    val p = new Path(path)
    val md = MessageDigest.getInstance(jcaName)
    val in = p.getFileSystem(conf).open(p)
    try {
      val buf = readBuf.get()
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    HexFormat.of().formatHex(md.digest())
  }

  /** Full content index: metadata + content hash (sha256 by default —
    * the reference's HashAlgorithm enum maps to md5/sha1/sha2). The
    * hash is computed by [[streamHashHex]] over the metadata listing:
    * same distributed per-file parallelism as the binaryFile content
    * scan, bounded memory at ANY file size. Each evaluation of the
    * frame reads every file once; [[save]] evaluates it once.
    */
  def indexWithHash(
      spark: SparkSession,
      dir: String,
      algorithm: String = "sha256",
      glob: Option[String] = None): DataFrame = {
    val jca = HashNames.getOrElse(algorithm.toLowerCase,
      throw new IllegalArgumentException(s"Unknown hash algorithm: $algorithm"))
    val shipped = spark.sparkContext.broadcast(new HashConf(
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toMap ++ spark.conf.getAll))
    val hashUdf = udf((p: String) => streamHashHex(p, jca, shipped.value.conf))
    indexMetadata(spark, dir, glob)
      .select(
        col("file_path"), col("file_name"), col("file_size"), col("modified_time"),
        hashUdf(col("file_path")).as("file_hash"),
        lit(algorithm.toLowerCase).as("hash_algorithm"),
        col("extension"))
  }

  /** Extension → MIME type guess (F11,
    * reference src/file_indexing_system.py:143-145): broadcast map
    * literal lookup with octet-stream fallback.
    */
  val MimeByExt: Map[String, String] = Map(
    "txt" -> "text/plain", "md" -> "text/markdown", "csv" -> "text/csv",
    "json" -> "application/json", "xml" -> "application/xml",
    "html" -> "text/html", "pdf" -> "application/pdf",
    "png" -> "image/png", "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg",
    "gif" -> "image/gif", "mp3" -> "audio/mpeg", "wav" -> "audio/wav",
    "mp4" -> "video/mp4", "zip" -> "application/zip",
    "parquet" -> "application/vnd.apache.parquet", "log" -> "text/plain")

  def mimeOf(ext: Column): Column =
    coalesce(element_at(typedlit(MimeByExt), lower(ext)), lit("application/octet-stream"))

  /** The reference's conjunctive file filter (P1): size range, extension
    * IN-list, hidden prefix, glob include/exclude — one pushdown-friendly
    * Column.
    */
  def fileFilter(
      minSize: Option[Long] = None,
      maxSize: Option[Long] = None,
      extensions: Seq[String] = Nil,
      excludeHidden: Boolean = true,
      includeGlobs: Seq[String] = Nil,
      excludeGlobs: Seq[String] = Nil): Column = {
    val preds = Seq(
      minSize.map(col("file_size") >= _),
      maxSize.map(col("file_size") <= _),
      if (extensions.nonEmpty) Some(col("extension").isin(extensions.map(_.toLowerCase): _*)) else None,
      if (excludeHidden) Some(!col("file_name").startsWith(".")) else None,
      Some(Glob.globFilter(col("file_path"), includeGlobs, excludeGlobs))
    ).flatten
    preds.reduce(_ && _)
  }

  /** Duplicate groups: GROUP BY (hash, algo, size) HAVING count>1, with
    * member lists collected in one aggregation — collapses the
    * reference's per-group N+1 refetch
    * (src/file_indexing_system.py:274-279) into a single shuffle.
    */
  def duplicateGroups(index: DataFrame, minSize: Long = 1): DataFrame =
    index
      .filter(col("file_hash").isNotNull && col("file_hash") =!= "" && col("file_size") >= minSize)
      .groupBy("file_hash", "hash_algorithm", "file_size")
      .agg(
        count(lit(1)).as("file_count"),
        sort_array(collect_list(struct(col("modified_time"), col("file_path")))).as("files"))
      .filter(col("file_count") > 1)
      .orderBy(desc("file_size"), asc("file_hash"))

  /** Report rollup (A3): totals + wasted bytes = size × (count − 1). */
  def duplicateReport(groups: DataFrame): DataFrame =
    groups.agg(
      count(lit(1)).as("duplicate_groups"),
      sum(col("file_count")).as("duplicate_files"),
      sum(col("file_size") * (col("file_count") - 1)).as("wasted_bytes"))

  /** Index totals (A2). */
  def stats(index: DataFrame): DataFrame =
    index.agg(
      count(lit(1)).as("total_files"),
      sum(col("file_size")).as("total_bytes"),
      countDistinct(col("extension")).as("distinct_extensions"))

  /** INSERT OR REPLACE semantics (S9): the INCOMING row always wins per
    * path — REPLACE is unconditional in the reference's SQLite upsert,
    * and a file restored from backup (older mtime, different content)
    * must still replace the stale index row. modified_time only breaks
    * ties WITHIN a side (duplicate paths in one batch keep the newest).
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    graft.operators.Dedup.keepFirst(
      existing.withColumn("__src", lit(1))
        .unionByName(incoming.withColumn("__src", lit(0)), allowMissingColumns = true),
      Seq("file_path"),
      Seq(col("__src").asc, col("modified_time").desc))
      .drop("__src")

  /** Search by name substring / hash / size (P2), ordered like the
    * reference's queries.
    */
  def searchByName(index: DataFrame, q: String): DataFrame =
    index.filter(col("file_name").contains(q)).orderBy("file_name", "file_path")

  def searchByHash(index: DataFrame, hash: String): DataFrame =
    index.filter(col("file_hash") === hash).orderBy("file_path")

  def searchBySize(index: DataFrame, size: Long): DataFrame =
    index.filter(col("file_size") === size).orderBy("file_path")

  /** Persist ordered by path (S10), crash-safe: the index is written
    * beside `path` and swapped in ([[Compact.replaceDir]]), so a write
    * that fails midway leaves the previous index as it was, and an
    * upsert of `path` into itself reads the old rows while it writes.
    * One shuffle to a single sorted partition, one file: the input is
    * evaluated once (a global `orderBy` samples it first, which would
    * run [[indexWithHash]]'s hash read twice), in two Spark jobs.
    */
  def save(index: DataFrame, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(index.sparkSession.sparkContext.hadoopConfiguration)
    Compact.replaceDir(fs, fs.makeQualified(target), "save_") { tmp =>
      index.repartition(1).sortWithinPartitions("file_path")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
  }

  def export(index: DataFrame, path: String, format: String): Unit = format match {
    case "json" => index.orderBy("file_path").write.mode(SaveMode.Overwrite).json(path)
    case "csv" => index.orderBy("file_path").write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)
    case f => throw new IllegalArgumentException(s"Unsupported export format: $f")
  }
}
