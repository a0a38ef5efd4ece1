package graft.etl

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction for parquet datasets.
  *
  * Long-lived lakes accumulate small files (streaming micro-batches,
  * per-task outputs, incremental upserts) until listing and footer
  * overhead dominates scan time — at 100 TB the #1 operational decay
  * mode. Compaction rewrites a directory into ~`targetBytes` files:
  * read → repartition(ceil(bytes/target)) → write.
  *
  * Scope and guarantees:
  *  - FLAT datasets (no partition subdirectories). A partitioned layout
  *    compacts per partition directory — compact the leaf dirs, not the
  *    root, or the partition column (encoded in dir names, absent from
  *    the files) would be silently dropped in the rewrite.
  *  - NOT transactional: the rewrite lands in a sibling temp dir and is
  *    swapped in with two renames under an intent journal, so a crash
  *    in the swap window parks the old data at `<path>__compact_old`
  *    (never silently lost) and the next [[compact]] of the same path
  *    converges it ([[convergeCrashedSwap]]) before recompacting.
  *    Concurrent readers mid-swap see a missing directory — coordinate
  *    externally, or use an ACID table format when that matters.
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
  private def isData(f: org.apache.hadoop.fs.FileStatus): Boolean =
    f.isFile && !isHiddenName(f.getPath.getName)

  def compact(
      spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val p = new Path(path)
    // siblings of the NORMALIZED path: string concat on a trailing-slash
    // input would nest them inside the dataset and fail the swap after
    // the full rewrite
    val old = new Path(p.getParent, p.getName + "__compact_old")
    // a crashed previous compaction converges here instead of wedging:
    // the original is restored (mid-swap crash) or the landed rewrite
    // is kept (post-swap crash), then this run recompacts normally
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    convergeCrashedSwap(fs, p, old, "compact")
    compactDir(spark, p, targetBytes,
      tmp = new Path(p.getParent, p.getName + "__compact_tmp"),
      old = old, journaled = true)
  }

  /** Rewrite `p` into `tmp`, gate, then swap via `old`. The swap dirs
    * are CALLER-PLACED: flat [[compact]] puts them next to the dataset;
    * [[compactPartitioned]] puts them OUTSIDE the lake root — a work
    * dir next to a leaf would itself read as a partition directory
    * (duplicated rows mid-rewrite, and a crash-parked `k=v__compact_old`
    * would poison the inferred partition values forever).
    */
  private def compactDir(
      spark: SparkSession, p: Path, targetBytes: Long,
      tmp: Path, old: Path, journaled: Boolean = false): CompactStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(p)
    // subdir check FIRST: a partitionBy root holds only _SUCCESS plus
    // partition dirs, and the "no data files" message would mislead.
    // HIDDEN subdirs (`_temporary` residue from a crashed append,
    // `_batches` commit markers) are metadata, not partitions — the
    // same [[isHiddenName]] rule [[compactPartitioned]]'s leaves()
    // applies; refusing on them would wedge exactly the healthy leaf
    // that leaves() just classified as compactable
    require(listing.forall(s => s.isFile || isHiddenName(s.getPath.getName)),
      s"$p has subdirectories — compact partition leaf dirs individually")
    val parts = listing.filter(isData)
    require(parts.nonEmpty, s"no data files to compact under $p")
    val bytes = parts.map(_.getLen).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    fs.delete(tmp, true)
    fs.delete(old, true)
    // mergeSchema: a leaf whose files straddle a schema evolution
    // (the dedup ledger's untagged → batch_tag-tagged generations)
    // must rewrite the UNION of columns — plain inference samples one
    // file and would silently drop the other generation's columns
    val src = spark.read.option("mergeSchema", "true").parquet(p.toString)
    val nSrc = src.count()
    src.repartition(n).write.mode("overwrite").parquet(tmp.toString)
    // row-count gate BEFORE the swap: a silently lossy rewrite (e.g.
    // ignoreCorruptFiles=true eating a bad file, or a reader quirk)
    // must abort with the original untouched — compaction is the one
    // operator here that deletes data, so it must prove the replacement
    // first. Both counts are parquet metadata-weight, cheap next to the
    // rewrite itself.
    val nTmp = spark.read.parquet(tmp.toString).count()
    if (nTmp != nSrc) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compaction of $p would lose rows ($nSrc read, $nTmp rewritten) — aborted, original untouched")
    }
    val after = fs.listStatus(tmp).count(isData)
    // flat compaction journals its swap (converge-on-rerun); the
    // partitioned path keeps the bare swap — its per-leaf parks live
    // under ONE outside-the-lake root with their own recovery contract
    if (journaled) swapIntoJournaled(fs, tmp, p, old)
    else swapInto(fs, tmp, p, old)
    CompactStats(parts.length, bytes, after)
  }

  /** Two-rename swap — the single owner of the replace-a-directory
    * sequence: the target is PARKED at `old`, never deleted before the
    * replacement at `tmp` is in place; `old` is removed only after the
    * swap lands. A crash inside the window leaves the original
    * recoverable at `old`.
    */
  private[graft] def swapInto(
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
    * tmp-then-replace sequence for sidecars, records and rewritten
    * lakes.
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
  private def relFileNames(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] = {
    if (!fs.exists(root)) return Seq.empty
    val rootPath = root.toUri.getPath.stripSuffix("/")
    val out = ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext)
      out += it.next().getPath.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
    out.sorted.toSeq
  }

  /** [[swapInto]] under an intent journal: the intent file (carrying
    * `tmp`'s manifest) lands before the first rename and is removed
    * after the park delete, so every crash window inside is
    * recognizable to [[convergeCrashedSwap]] on the next run. Callers
    * must gate `tmp` (row counts, re-merge identity) BEFORE calling —
    * the manifest is the rerun's proof that a standing target is that
    * gated rewrite and not an external recreation.
    */
  private[graft] def swapIntoJournaled(
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
  private[graft] def convergeCrashedSwap(
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

  /** True if any FILE exists under `p` (directories alone don't count —
    * a parked tree of empty partition parents is residue, not data).
    */
  private def containsFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean = {
    val it = fs.listFiles(p, true)
    it.hasNext
  }

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
    * `__remove_old`) that still holds FILES, if any. A crashed swap of
    * ANY verb parks a partition's only copy in such a tree, so both
    * the serving paths and the next mutation must check ALL of them,
    * not just their own verb's.
    */
  private[graft] def anyParkedSibling(
      fs: org.apache.hadoop.fs.FileSystem, lake: Path): Option[Path] = {
    val parent = lake.getParent
    if (parent == null || !fs.exists(parent)) None
    else fs.listStatus(parent).map(_.getPath)
      .filter(p =>
        p.getName.startsWith(lake.getName + "__") && p.getName.endsWith("_old"))
      .find(p => containsFiles(fs, p))
  }

  /** Crash guard shared across verbs: refuse to act on a lake while
    * ANY swap verb's parked tree still holds a partition's only copy —
    * a missing partition dir otherwise reads as silently-empty for
    * every query, and a mutation against it cements the loss. Used by
    * the lex and ANN index query paths (`action = "serving"`) and by
    * the mutating verbs after clearing their OWN tree (removal checks
    * for a crashed compaction and vice versa).
    */
  private[graft] def requireServable(
      fs: org.apache.hadoop.fs.FileSystem, lake: Path,
      action: String = "serving"): Unit =
    anyParkedSibling(fs, lake).foreach(p =>
      throw new IllegalArgumentException(
        s"$p holds parked data -- a swap crashed mid-rename; recover it before $action"))

  /** Per-leaf two-rename swap of a rewritten partition set: for each
    * leaf name, the rewritten `tmpRoot/name` replaces `base/name` via
    * [[swapInto]]; a leaf with NO rewritten counterpart was emptied by
    * the rewrite and is parked then dropped. Cleans both work roots at
    * the end. Single owner of the swap loop shared by the index
    * removal verbs.
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

  /** Compact every LEAF directory of a partitioned parquet lake — the
    * operational common case ([[compact]] handles one flat dir). Walks
    * `root` recursively: a directory holding data files and no
    * subdirectories is a leaf and is compacted in place, so the
    * partition columns (encoded in the `k=v` directory names, absent
    * from the files) survive untouched. Leaves are processed
    * sequentially — each leaf's rewrite is already a full-width
    * distributed job, so leaf-level parallelism would just contend.
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
    * Returns (leafPath, stats) per compacted leaf; empty-leaf or
    * mixed-content dirs (files AND subdirs — not a partitioned layout)
    * fail loudly rather than guessing.
    */
  def compactPartitioned(
      spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, CompactStats)] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(rp).isDirectory, s"$root is not a directory")
    val tmpRoot = new Path(rp.getParent, rp.getName + "__compact_tmp")
    val oldRoot = new Path(rp.getParent, rp.getName + "__compact_old")
    // a parked tree with FILES is a crashed swap (it may hold the only
    // copy of a leaf — block until recovered); one with only empty
    // parent dirs is residue of an earlier aborted pass (e.g. a later
    // leaf failed its row-count gate after earlier leaves swapped
    // cleanly) and must not wedge the operator forever. Single owner:
    // clearOrRefuseParked. After clearing our OWN tree, any OTHER
    // verb's parked sibling (a crashed index removal) also blocks —
    // compacting a lake with a swapped-out partition would bless the
    // loss as the new normal.
    clearOrRefuseParked(fs, oldRoot, "partitioned compaction")
    requireServable(fs, rp, action = "compacting")
    def leaves(dir: Path): Seq[Path] = {
      val listing = fs.listStatus(dir)
      // a work dir INSIDE the lake means a previous FLAT compact() of a
      // leaf crashed mid-swap (the partitioned path parks outside the
      // root) — it may hold a leaf's only copy AND it poisons partition
      // inference for every root reader, so refuse loudly rather than
      // walk it as a partition or (worse) silently skip parked data
      listing.filter(_.isDirectory).map(_.getPath.getName)
        .find(n => n.endsWith("__compact_tmp") || n.endsWith("__compact_old"))
        .foreach(n => throw new IllegalArgumentException(
          s"$dir/$n is a crashed compact() swap inside the lake — recover or " +
            "remove it before compacting the root"))
      // hidden dirs are metadata, not partitions: `_batches` (the
      // exactly-once gate's commit markers), `_temporary` residue from
      // a crashed append — walking them as leaves would feed non-data
      // files to the rewrite (or refuse a healthy leaf for carrying
      // crash residue); the hadoop `_`/`.` convention [[isHiddenName]]
      // every reader here already applies to FILES
      val subdirs = listing.filter(s =>
        s.isDirectory && !isHiddenName(s.getPath.getName))
      val data = listing.filter(isData)
      if (subdirs.isEmpty) {
        if (data.nonEmpty) Seq(dir) else Seq.empty // metadata-only dir: skip
      } else {
        require(data.isEmpty,
          s"$dir holds both data files and subdirectories — not a partitioned layout; " +
            "compact it explicitly with compact()")
        subdirs.toSeq.flatMap(d => leaves(d.getPath))
      }
    }
    val targets = leaves(rp)
    require(targets.nonEmpty, s"no data leaves to compact under $root")
    require(targets != Seq(rp),
      s"$root is a flat (unpartitioned) dataset — use compact() directly")
    fs.delete(tmpRoot, true)
    val rootUri = rp.toUri.getPath
    val res =
      try targets.map { l =>
        val rel = l.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
        l.toString -> compactDir(spark, l, targetBytes,
          tmp = new Path(tmpRoot, rel), old = new Path(oldRoot, rel))
      }
      // tmp never holds the only copy — safe to clear on ANY failure.
      // oldRoot is NOT touched here: if the swap-in rename failed it
      // holds the parked original (the recovery copy).
      finally fs.delete(tmpRoot, true)
    // full success: every leaf swapped and its parked copy deleted by
    // compactDir — oldRoot holds only empty parent dirs now
    fs.delete(oldRoot, true)
    res
  }
}
