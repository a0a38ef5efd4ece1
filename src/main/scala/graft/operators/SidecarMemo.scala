package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Resident sidecar state of the persisted indexes — the single owner
  * of what a read verb may keep between requests. A sidecar (the BM25
  * stats row, the IVF codebook, the PQ code tables, the SQ8 stats)
  * changes only when a mutating verb writes it, and every writer lands
  * a NEW part file (Spark part names carry a per-write UUID). So the
  * sidecar directory's data-file listing — (name, length, mtime) per
  * file — is a generation token: equal token, equal content. Each read lists the directory (one
  * metadata call, no Spark job) and reuses the value loaded for that
  * token; any write moves the token and the next read reloads.
  *
  * What is NOT memoized: the lakes themselves (each read lists the
  * leaves it opens, so appends and compactions stay visible), and
  * every servability or intent guard (run by the verbs on each call,
  * outside this object).
  * A missing or file-less sidecar is never served from memory: the
  * loader runs and fails loudly exactly as a direct read would.
  *
  * Values must be session-independent data (rows, arrays, schemas),
  * never DataFrames, and are shared read-only. One entry per
  * (sidecar, slot); a new generation replaces the old entry.
  */
private[graft] object SidecarMemo {
  private type Token = Seq[(String, Long, Long)]
  private final case class Entry(token: Token, value: Any)
  private val entries = new ConcurrentHashMap[(String, String), Entry]()

  private def token(spark: SparkSession, dir: Path): Token = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    st.filter(f => f.isFile && !graft.etl.Compact.isHiddenName(f.getPath.getName))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1).toSeq
  }

  /** The value `load` computes for the current generation of the
    * sidecar directory `sidecar`; `slot` names which derived value
    * (several may hang off one sidecar's generation). A write racing
    * the load moves the token between the two listings, and the
    * loaded value is returned but not kept.
    */
  def apply[A](spark: SparkSession, sidecar: String, slot: String)(load: => A): A = {
    val dir = new Path(sidecar)
    val before = token(spark, dir)
    if (before.isEmpty) return load
    val k = key(spark, dir, slot)
    val hit = entries.get(k)
    if (hit != null && hit.token == before) hit.value.asInstanceOf[A]
    else {
      val v = load
      if (token(spark, dir) == before) entries.put(k, Entry(before, v))
      v
    }
  }

  /** Keep `value` for the sidecar's current generation without loading
    * it: a writer that just moved the generation and knows what `slot`
    * holds for it (the sidecar row or codebook, or the lake schema it
    * wrote) saves the next read the load.
    */
  def record(spark: SparkSession, sidecar: String, slot: String, value: Any): Unit = {
    val dir = new Path(sidecar)
    val now = token(spark, dir)
    if (now.nonEmpty) entries.put(key(spark, dir, slot), Entry(now, value))
  }

  private def key(spark: SparkSession, dir: Path, slot: String): (String, String) =
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(dir).toString, slot)
}
