package graft.etl

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Small-files compaction for parquet datasets, and the one owner of
  * every directory swap in the repo.
  *
  * Long-lived lakes accumulate small files (streaming micro-batches,
  * per-task outputs, incremental upserts) until listing and footer
  * overhead dominates scan time — at 100 TB the #1 operational decay
  * mode. Compaction rewrites a directory into ~`targetBytes` files.
  *
  * Scope and guarantees:
  *  - Only FRAGMENTED directories are touched: one that holds no more
  *    files than its bytes call for, n = max(1, ceil(bytes /
  *    targetBytes)), is not read, rewritten or swapped (Delta Lake's
  *    OPTIMIZE skips single-file bins the same way).
  *  - One core, [[rewriteFragmented]], rewrites every fragmented
  *    directory of a pass in one read and one write, a fixed number of
  *    Spark jobs, and gates them all on their parquet footer row counts
  *    before the first swap.
  *  - Every verb that replaces a WHOLE directory — [[compact]], the
  *    sketch-lake compactions, `Ann.refitIvfIndex` and
  *    `Bm25.rebucketLexIndex` — runs through one journaled core,
  *    [[rewriteJournaled]]: it converges its own crashed swap
  *    ([[convergeCrashedSwap]]), refuses any other parked sibling,
  *    lets the caller write and gate the replacement, and swaps it in
  *    under an intent journal ([[swapIntoJournaled]]). So a crash at
  *    any step leaves the before or the after state, and the next run
  *    of any of those verbs reaches it.
  *  - NOT transactional: a swap is two renames, so a crash in the swap
  *    window parks the old data at `<path>__<verb>_old` (never
  *    silently lost) and readers mid-swap see a missing directory —
  *    coordinate externally, or use an ACID table format when that
  *    matters. `fs.rename` is called only in this file.
  */
object Compact {

  /** before/after file counts and the data size that was rewritten. */
  case class CompactStats(filesBefore: Int, bytesTotal: Long, filesAfter: Int)

  /** Hidden-by-convention name (_SUCCESS, _temporary, .crc, …) — the
    * single owner of the rule, shared with the IVF index's file
    * listing so "what counts as a data file" cannot drift.
    */
  private[graft] def isHiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  /** True iff the AnalysisException is one of the two conditions an
    * ABSENT or zero-data-file parquet path raises — matched on the
    * stable error condition (SparkThrowable.getCondition), not the
    * version-dependent message text, so a Spark upgrade cannot
    * re-wedge callers that legitimately read an empty lake as empty.
    * Any OTHER analysis failure (corrupt footer, schema drift, foreign
    * files) stays unmatched and must throw at the call site.
    */
  private[graft] def emptyLakeRead(
      e: org.apache.spark.sql.AnalysisException): Boolean =
    e.getCondition == "UNABLE_TO_INFER_SCHEMA" ||
      e.getCondition == "PATH_NOT_FOUND"

  /** Non-metadata data file — single owner for the before/after
    * counts, which must agree on what "a file" is.
    */
  private def isData(f: FileStatus): Boolean =
    f.isFile && !isHiddenName(f.getPath.getName)

  /** Compact one FLAT dataset directory (no partition subdirectories —
    * a partitioned root goes through [[compactPartitioned]], or its
    * partition column, encoded in dir names and absent from the files,
    * would be dropped). Returns the stats of the rewrite, or equal
    * before/after counts when the directory was not fragmented.
    */
  def compact(
      spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rewriteJournaled(fs, p, "compact") { tmp =>
      val listing = fs.listStatus(p)
      // subdir check FIRST: a partitionBy root holds only _SUCCESS plus
      // partition dirs, and the "no data files" message would mislead.
      // HIDDEN subdirs (`_temporary` residue from a crashed append,
      // `_batches` commit markers) are metadata, not partitions — the
      // same [[isHiddenName]] rule [[dataLeaves]] applies
      require(listing.forall(s => s.isFile || isHiddenName(s.getPath.getName)),
        s"$p has subdirectories — compact partition leaf dirs individually")
      val parts = listing.filter(isData).toSeq
      require(parts.nonEmpty, s"no data files to compact under $p")
      rewriteFragmented(spark, fs, p, Seq(p -> parts), targetBytes, tmp) match {
        case Seq((_, stats)) => stats
        case _ => CompactStats(parts.length, parts.map(_.getLen).sum, parts.length)
      }
    }
  }

  /** `leaf`'s path relative to `root` ("" for the root itself). */
  private def relTo(root: Path, leaf: Path): String =
    leaf.toUri.getPath.stripPrefix(root.toUri.getPath.stripSuffix("/")).stripPrefix("/")

  /** Row count a parquet file's footer records. A file without a
    * readable footer aborts the compaction: it may be the only copy of
    * its rows, so it is never skipped the way `ignoreCorruptFiles`
    * readers skip it.
    */
  private def footerRows(
      conf: org.apache.hadoop.conf.Configuration, f: FileStatus): Long = {
    val r =
      try ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      catch {
        case NonFatal(e) => throw new IllegalStateException(
          s"cannot read the parquet footer of ${f.getPath} — compaction aborted, original untouched", e)
      }
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally r.close()
  }

  /** The one compaction core. `leaves` are directories under `root`
    * (the root itself for a flat dataset, else `k=v` partition leaves)
    * with their data files. A leaf with no more files than the
    * n = max(1, ceil(bytes / targetBytes)) its bytes call for is
    * skipped. The rest are rewritten together:
    *  - the schema is resolved once, as the `mergeSchema` union of the
    *    selected files (a leaf straddling a schema evolution — the
    *    dedup ledger's untagged → tagged generations — keeps every
    *    column), and their row counts come from the parquet footers;
    *  - one read of the selected files with `basePath = root`, the
    *    partition columns given as strings so a `bucket=00` or
    *    `bucket=1e5` is never re-typed and written back as `0` or
    *    `100000.0`;
    *  - one `repartition` by the partition columns (plus a salt of
    *    n buckets for the leaves whose bytes call for n > 1 files) and
    *    one `partitionBy` write into `tmpRoot`;
    *  - the gate: the rewrite must land exactly the selected leaves,
    *    each with the row count of its source footers, or the pass
    *    throws with every leaf untouched.
    * Returns (source leaf, stats) for each rewritten leaf; its gated
    * replacement sits at `tmpRoot/<relative leaf>`. The caller swaps
    * it in and clears `tmpRoot` whether or not this throws.
    */
  private def rewriteFragmented(
      spark: SparkSession, fs: FileSystem, root: Path,
      leaves: Seq[(Path, Seq[FileStatus])], targetBytes: Long,
      tmpRoot: Path): Seq[(Path, CompactStats)] = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val chosen = leaves.flatMap { case (dir, files) =>
      val n = math.max(1L, (files.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
      if (files.length > n) Some((relTo(root, dir), dir, files, n)) else None
    }
    if (chosen.isEmpty) return Seq.empty
    // partition columns from the leaf dir names, values as the string
    // read below yields them (unescaped; the Hive default name is null)
    val specs = chosen.map { case (rel, _, _, _) =>
      rel.split("/").filter(_.nonEmpty).toSeq.map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0 && eq < seg.length - 1,
          s"$root/$rel is not a k=v partition directory — compact it explicitly with compact()")
        val v = seg.substring(eq + 1)
        seg.substring(0, eq) ->
          (if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
           else ExternalCatalogUtils.unescapePathName(v))
      }
    }
    val partCols = specs.head.map(_._1)
    require(specs.forall(_.map(_._1) == partCols),
      s"$root mixes partition layouts: ${specs.map(_.map(_._1)).distinct.mkString(", ")}")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcRows = chosen.map { case (rel, _, files, _) => rel -> files.map(footerRows(conf, _)).sum }.toMap
    // the leaf dirs, not their files: Spark lists more than 32 paths in
    // a job of its own, once per read (a file that lands after the
    // listing above fails the footer gate)
    val paths = chosen.map(_._2.toString)
    fs.delete(tmpRoot, true)
    val dataSchema = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    val src = spark.read
      .schema(partCols.foldLeft(dataSchema)(_.add(_, StringType)))
      .option("basePath", root.toString)
      .parquet(paths: _*)
    // salt only the leaves whose bytes call for several files: row
    // position within its scan split, mod the leaf's n — balanced and
    // stable across task retries (the scan splits are)
    val salted = chosen.zip(specs).collect { case ((_, _, _, n), spec) if n > 1 =>
      spec.map { case (c, v) => col(c) <=> lit(v).cast(StringType) }
        .foldLeft(lit(true))(_ && _) -> n
    }
    val keyed =
      if (salted.isEmpty) src
      else src.withColumn("__compact_salt", pmod(monotonically_increasing_id(),
        salted.tail.foldLeft(when(salted.head._1, salted.head._2)) {
          case (acc, (m, n)) => acc.when(m, n)
        }.otherwise(1).cast("long")))
    val keys = partCols.map(col) ++ (if (salted.isEmpty) Nil else Seq(col("__compact_salt")))
    val total = chosen.map(_._4).sum
    val shuffled = (if (keys.isEmpty) keyed.repartition(total) else keyed.repartition(total, keys: _*))
      .drop("__compact_salt")
    (if (partCols.isEmpty) shuffled.write else shuffled.write.partitionBy(partCols: _*))
      .mode("overwrite").parquet(tmpRoot.toString)
    // the whole-lake gate, before any swap: exactly the selected
    // leaves came back, each with its source footers' row count
    val written = dataLeaves(fs, tmpRoot).map { case (d, fl) => relTo(tmpRoot, d) -> fl }.toMap
    if (written.keySet != srcRows.keySet)
      throw new IllegalStateException(
        s"compaction of $root rewrote leaves ${written.keySet.toSeq.sorted.mkString(", ")} " +
          s"instead of ${srcRows.keySet.toSeq.sorted.mkString(", ")} — aborted, original untouched")
    chosen.map { case (rel, dir, files, _) =>
      val nTmp = written(rel).map(footerRows(conf, _)).sum
      if (nTmp != srcRows(rel))
        throw new IllegalStateException(
          s"compaction of $dir would lose rows (${srcRows(rel)} in the source footers, " +
            s"$nTmp rewritten) — aborted, original untouched")
      dir -> CompactStats(files.length, files.map(_.getLen).sum, written(rel).length)
    }
  }

  /** Two-rename swap — the single owner of the replace-a-directory
    * sequence: the target is PARKED at `old`, never deleted before the
    * replacement at `tmp` is in place; `old` is removed only after the
    * swap lands. A crash inside the window leaves the original
    * recoverable at `old`.
    */
  private def swapInto(
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path, old: Path): Unit = {
    val oldParent = old.getParent
    if (oldParent != null) fs.mkdirs(oldParent)
    require(fs.rename(target, old), s"could not park $target")
    require(fs.rename(tmp, target), s"could not swap in $tmp for $target")
    fs.delete(old, true)
  }

  /** Replace the directory `target` with what `write` puts at the path
    * it is handed, `<target>__<tag>tmp`: stale tmp and park dirs are
    * cleared first, then the written dir swaps in through [[swapInto]]
    * via `<target>__<tag>old` when `target` exists, or is renamed into
    * place when it does not. A crash mid-write leaves only the tmp dir,
    * never a partial `target`. `write` may gate what it wrote and throw
    * to abort with `target` untouched. The single owner of the
    * unjournaled tmp-then-replace sequence: sidecars, records, and
    * outputs a rerun recomputes from their source. A directory
    * rewritten from its own contents goes through [[rewriteJournaled]].
    */
  private[graft] def replaceDir[A](
      fs: org.apache.hadoop.fs.FileSystem, target: Path, tag: String)(write: Path => A): A = {
    val tmp = new Path(target.getParent, s"${target.getName}__${tag}tmp")
    val old = new Path(target.getParent, s"${target.getName}__${tag}old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    val out = write(tmp)
    if (fs.exists(target)) swapInto(fs, tmp, target, old)
    else require(fs.rename(tmp, target), s"could not place $tmp at $target")
    out
  }

  /** Sibling intent marker for an intent-journaled flat-dir swap:
    * hidden (dot-prefixed, so every directory reader here skips it via
    * [[isHiddenName]]) and OUTSIDE the target (the whole target
    * renames away mid-swap). Its CONTENT is the gated rewrite's file
    * manifest (sorted relative paths, one per line — parquet part
    * names never contain newlines): presence says a swap was in
    * flight, the manifest says which files the landed target must hold
    * to BE that swap's rewrite — the distinction that makes "crash
    * after swap-in" provably different from "external writer recreated
    * the target while the park holds the only copy".
    */
  private[graft] def swapIntent(target: Path): Path =
    new Path(target.getParent, "." + target.getName + "__swap_intent")

  /** Sorted file paths under `root`, relative to it — the swap
    * manifest fingerprint (part-file names carry writer UUIDs, so two
    * independent rewrites collide with ~0 probability).
    */
  private[graft] def relFileNames(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] = {
    val rootPath = root.toUri.getPath.stripSuffix("/")
    walkFiles(fs, root)
      .map(_.getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/"))
      .toSeq.sorted
  }

  /** Every file under `root` (or `root` itself, if it is a file),
    * walked with `listStatus`. Hadoop's `listFiles` builds a
    * `LocatedFileStatus` per entry, and without the native library the
    * local file system fills in its permissions by running `ls -ld` in
    * a subprocess, once per file. Lazy: a caller that needs one file
    * stops listing at the first. A missing root has no files.
    */
  private[graft] def walkFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Iterator[org.apache.hadoop.fs.FileStatus] = {
    val children =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    children.iterator.flatMap(st =>
      if (st.isDirectory) walkFiles(fs, st.getPath) else Iterator.single(st))
  }

  /** [[swapInto]] under an intent journal: the intent file (carrying
    * `tmp`'s manifest) lands before the first rename and is removed
    * after the park delete, so every crash window inside is
    * recognizable to [[convergeCrashedSwap]] on the next run. Callers
    * must gate `tmp` (row counts, re-merge identity) BEFORE calling —
    * the manifest is the rerun's proof that a standing target is that
    * gated rewrite and not an external recreation.
    */
  private def swapIntoJournaled(
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path, old: Path): Unit = {
    val intent = swapIntent(target)
    val out = fs.create(intent, true)
    out.write(relFileNames(fs, tmp).mkString("\n").getBytes("UTF-8"))
    out.close()
    swapInto(fs, tmp, target, old)
    fs.delete(intent, true): Unit
  }

  /** Converge a crashed [[swapIntoJournaled]] over `target` so the
    * rerun proceeds instead of wedging. Post-state invariant: no park,
    * no intent, and `target` (when present) is a complete copy —
    * either the recovered original or the gated rewrite. The windows:
    * file-less park → residue, cleared; park WITH files + intent +
    * target missing → crash between the two renames, the park IS the
    * data — rename it back (the rerun then redoes its rewrite); park
    * WITH files + intent + target present → EITHER a crash after the
    * swap-in before the park delete, OR a crash between the renames
    * followed by an external writer recreating the target while the
    * park held the only copy — the two are told apart by the intent's
    * MANIFEST: a target whose file set equals the recorded rewrite IS
    * the gated swap (finish the park delete); anything else is refused
    * loudly, park untouched. Park WITH files and NO intent →
    * unrecognized state (not our crash), refused loudly, never
    * deleted. A standing intent with no park is a crash before the
    * first rename or after the park delete — the swap never started or
    * fully landed; cleared either way.
    */
  private def convergeCrashedSwap(
      fs: org.apache.hadoop.fs.FileSystem, target: Path, old: Path,
      verb: String): Unit = {
    val intent = swapIntent(target)
    if (fs.exists(old)) {
      if (!containsFiles(fs, old)) fs.delete(old, true)
      else {
        require(fs.exists(intent),
          s"$old holds parked data without a $verb swap intent -- " +
            "unrecognized state; recover it (rename back or remove) manually")
        if (!fs.exists(target)) require(fs.rename(old, target), s"could not recover $old")
        else {
          val recorded = {
            val in = fs.open(intent)
            try new String(in.readAllBytes(), "UTF-8").split("\n").filter(_.nonEmpty).toSet
            finally in.close()
          }
          val actual = relFileNames(fs, target).toSet
          require(recorded.nonEmpty && recorded == actual,
            s"$target does not match the $verb swap intent's recorded rewrite -- " +
              s"an external writer recreated it while $old holds the pre-swap copy; " +
              "recover manually (the park is untouched)")
          fs.delete(old, true)
        }
      }
    }
    fs.delete(intent, true): Unit
  }

  /** The one whole-directory rewrite, shared by every verb that
    * replaces a directory wholesale ([[compact]], the sketch-lake
    * compactions, `Ann.refitIvfIndex`, `Bm25.rebucketLexIndex`). In
    * order:
    *  1. any OTHER verb's parked sibling of `target` holding files is
    *     refused ([[requireServable]]) — checked before step 2, so the
    *     intent that verb's rerun needs is never cleared here;
    *  2. this verb's own crashed swap converges to the before or the
    *     after state ([[convergeCrashedSwap]] on `<target>__<verb>_old`);
    *  3. `write` gets `<target>__<verb>_tmp` (cleared first): it writes
    *     the replacement there and checks it, throwing to abort with
    *     `target` untouched. A `write` that leaves no tmp (nothing to
    *     rewrite: an absent or already-converged target) swaps nothing;
    *  4. the gated tmp swaps in under the intent journal
    *     ([[swapIntoJournaled]]), and tmp is cleared whatever happens.
    * Returns what `write` returned.
    */
  private[graft] def rewriteJournaled[A](
      fs: FileSystem, target: Path, verb: String)(write: Path => A): A = {
    val tmp = new Path(target.getParent, s"${target.getName}__${verb}_tmp")
    val old = new Path(target.getParent, s"${target.getName}__${verb}_old")
    requireServable(fs, target, s"the $verb", except = old.getName)
    convergeCrashedSwap(fs, target, old, verb)
    fs.delete(tmp, true)
    try {
      val out = write(tmp)
      if (fs.exists(tmp)) swapIntoJournaled(fs, tmp, target, old)
      out
    } finally fs.delete(tmp, true): Unit
  }

  /** True if any FILE exists under `p` (directories alone don't count —
    * a parked tree of empty partition parents is residue, not data).
    */
  private def containsFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    walkFiles(fs, p).hasNext

  /** Refuse a parked removal/compaction tree that still holds FILES —
    * it may be some partition's only copy after a crashed two-rename
    * swap, so the caller must recover it, never delete it blindly.
    * File-less residue dirs are cleared. Single owner of the parked
    * rule shared by the index removal verbs (Ann, Bm25) and the
    * query-side serving guards.
    */
  private[graft] def clearOrRefuseParked(
      fs: org.apache.hadoop.fs.FileSystem, parked: Path, verb: String): Unit =
    if (fs.exists(parked)) {
      require(!containsFiles(fs, parked),
        s"$parked holds parked data -- a previous $verb crashed mid-swap; " +
          "recover or remove its parked partitions first")
      fs.delete(parked, true)
    }

  /** The first parked sibling tree of `lake` (`<name>__*_old` — the
    * naming every swap verb here uses: `__compact_old`,
    * `__remove_old`, `__refit_old`, …) that still holds FILES, if any,
    * other than the one named `except`. A crashed swap of ANY verb
    * parks a partition's only copy in such a tree, so both the serving
    * paths and the next mutation must check ALL of them, not just their
    * own verb's. One listing of the parent; an absent parent has none.
    */
  private def anyParkedSibling(
      fs: FileSystem, lake: Path, except: String): Option[Path] = {
    val parent = lake.getParent
    val siblings =
      if (parent == null) Array.empty[FileStatus]
      else try fs.listStatus(parent)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    siblings.iterator.map(_.getPath)
      .filter(p => p.getName != except &&
        p.getName.startsWith(lake.getName + "__") && p.getName.endsWith("_old"))
      .find(p => containsFiles(fs, p))
  }

  /** Crash guard shared across verbs: refuse to act on a lake while
    * ANY swap verb's parked tree still holds a partition's only copy —
    * a missing partition dir otherwise reads as silently-empty for
    * every query, and a mutation against it cements the loss. Used by
    * the lake readers (`action = "serving"`) and by the mutating verbs
    * after clearing their OWN tree (removal checks for a crashed
    * compaction and vice versa). `except` names a sibling the caller
    * recovers itself.
    */
  private[graft] def requireServable(
      fs: org.apache.hadoop.fs.FileSystem, lake: Path,
      action: String = "serving", except: String = ""): Unit =
    anyParkedSibling(fs, lake, except).foreach(p =>
      throw new IllegalArgumentException(
        s"$p holds parked data -- a swap crashed mid-rename; recover it before $action"))

  /** The guard of a persisted index at `root` whose rows live in the
    * lake `root/<lake>` (the IVF family's `base`, BM25's `postings`):
    * [[requireServable]] over the lake's siblings (a crashed removal or
    * compaction parks a leaf there) and over the root's (a crashed
    * refit or rebucket parks the whole index at `<root>__<verb>_old`;
    * a root recreated while the park holds the only good copy must not
    * serve silently). Two directory listings, no Spark job. The one
    * servability rule of every index query and mutating verb.
    */
  private[graft] def requireIndexServable(
      spark: SparkSession, root: String, lake: String, action: String = "serving"): Unit = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireServable(fs, new Path(rp, lake), action)
    requireServable(fs, rp, action)
  }

  /** Per-leaf two-rename swap of a rewritten partition set: for each
    * leaf name, the rewritten `tmpRoot/name` replaces `base/name` via
    * [[swapInto]]; a leaf with NO rewritten counterpart was emptied by
    * the rewrite and is parked then dropped. Cleans both work roots at
    * the end. Single owner of the swap loop shared by the index
    * removal verbs and [[compactPartitioned]].
    */
  private[graft] def swapRewrittenLeaves(
      fs: org.apache.hadoop.fs.FileSystem, base: Path,
      tmpRoot: Path, oldRoot: Path, leaves: Seq[String]): Unit = {
    leaves.foreach { name =>
      val leaf = new Path(base, name)
      val tmpLeaf = new Path(tmpRoot, name)
      val oldLeaf = new Path(oldRoot, name)
      if (fs.exists(tmpLeaf)) swapInto(fs, tmpLeaf, leaf, oldLeaf)
      else if (fs.exists(leaf)) {
        fs.mkdirs(oldLeaf.getParent)
        require(fs.rename(leaf, oldLeaf), s"could not park emptied $leaf")
        fs.delete(oldLeaf, true)
      }
    }
    fs.delete(tmpRoot, true)
    fs.delete(oldRoot, true)
  }

  /** The data leaves under `dir`: directories holding data files and
    * no partition subdirectories, each with its data files. Hidden dirs
    * (`_batches` commit markers, `_temporary` crash residue) are
    * metadata, not partitions, by the [[isHiddenName]] rule every
    * reader here applies to files. A dir holding BOTH data files and
    * subdirectories is not a partitioned layout and is refused, as is
    * a flat [[compact]]'s work dir inside the lake: it means a crashed
    * swap that may hold a leaf's only copy, and it poisons partition
    * inference for every root reader.
    */
  private def dataLeaves(fs: FileSystem, dir: Path): Seq[(Path, Seq[FileStatus])] = {
    val listing = fs.listStatus(dir).toSeq
    listing.filter(_.isDirectory).map(_.getPath.getName)
      .find(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old"))
      .foreach(n => throw new IllegalArgumentException(
        s"$dir/$n is a crashed compact() swap inside the lake — recover or " +
          "remove it before compacting the root"))
    val subdirs = listing.filter(s => s.isDirectory && !isHiddenName(s.getPath.getName))
    val data = listing.filter(isData)
    if (subdirs.isEmpty) {
      if (data.nonEmpty) Seq(dir -> data) else Seq.empty // metadata-only dir: skip
    } else {
      require(data.isEmpty,
        s"$dir holds both data files and subdirectories — not a partitioned layout; " +
          "compact it explicitly with compact()")
      subdirs.flatMap(d => dataLeaves(fs, d.getPath))
    }
  }

  /** Compact the fragmented LEAF directories of a partitioned parquet
    * lake — the operational common case ([[compact]] handles one flat
    * dir). Walks `root` for its data leaves ([[dataLeaves]]); the
    * partition columns (encoded in the `k=v` directory names, absent
    * from the files) survive byte for byte. Leaves that are not
    * fragmented are skipped; the others are rewritten by ONE read and
    * ONE partitioned write and gated all together ([[rewriteFragmented]])
    * before the first leaf is swapped, so a failed gate leaves the whole
    * lake as it was. Temp space is every fragmented leaf at once.
    *
    * Swap/work directories live OUTSIDE the lake, as siblings of the
    * ROOT (`<root>__compact_tmp/<relative-leaf>`, same for `_old`):
    * inside the lake they would read as partition directories —
    * duplicating the leaf mid-rewrite and, after a crash between the
    * two swap renames, corrupting the partition values of the only
    * surviving copy. A crash instead parks the leaf at
    * `<root>__compact_old/<relative-leaf>` where no root read sees it;
    * recover by renaming it back.
    *
    * Returns (leafPath, stats) per REWRITTEN leaf — empty when nothing
    * was fragmented. A lake with no data leaves, a flat root, a parked
    * tree holding files and mixed-content dirs fail loudly rather than
    * guessing.
    */
  def compactPartitioned(
      spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, CompactStats)] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified, so leaf paths from the listing are relative to it
    val rp = fs.makeQualified(new Path(root))
    require(fs.getFileStatus(rp).isDirectory, s"$root is not a directory")
    val tmpRoot = new Path(rp.getParent, rp.getName + "__compact_tmp")
    val oldRoot = new Path(rp.getParent, rp.getName + "__compact_old")
    // a parked tree with FILES is a crashed swap (it may hold the only
    // copy of a leaf — block until recovered); one with only empty
    // parent dirs is residue and must not wedge the operator forever.
    // Single owner: clearOrRefuseParked. After clearing our OWN tree,
    // any OTHER verb's parked sibling (a crashed index removal) also
    // blocks — compacting a lake with a swapped-out partition would
    // bless the loss as the new normal.
    clearOrRefuseParked(fs, oldRoot, "partitioned compaction")
    requireServable(fs, rp, action = "compacting")
    val leaves = dataLeaves(fs, rp)
    require(leaves.nonEmpty, s"no data leaves to compact under $root")
    require(leaves.map(_._1) != Seq(rp),
      s"$root is a flat (unpartitioned) dataset — use compact() directly")
    val res =
      try {
        val rewritten = rewriteFragmented(spark, fs, rp, leaves, targetBytes, tmpRoot)
        swapRewrittenLeaves(fs, rp, tmpRoot, oldRoot, rewritten.map { case (leaf, _) => relTo(rp, leaf) })
        rewritten
      }
      // tmp never holds the only copy — safe to clear on ANY failure.
      // oldRoot is NOT touched here: if a swap-in rename failed it
      // holds the parked original (the recovery copy).
      finally fs.delete(tmpRoot, true)
    res.map { case (leaf, stats) => leaf.toString -> stats }
  }
}
