package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The leaf reader of the partitioned index lakes (the IVF family's
  * `cell=` base, the BM25 `bucket=` postings) — the one way a verb reads
  * a subset of a lake's leaves. It opens only the named leaf
  * directories, by path, under `basePath` = the lake root, so the
  * partition column still comes back as a column typed by `schema`.
  *
  * Why by path and not `filter(partCol.isin(ids))` over the root: the
  * ids are request-dependent literals, and a filter puts them into the
  * generated code (an IN switch and its bound checks), so every new
  * probe set or vocabulary compiled new classes. A path list reaches
  * only the file listing; the plan, and so its compiled classes, is the
  * same for every request of one shape. The root is not listed
  * recursively either: one listing of its children drops ids with no
  * leaf (a term no document holds, a cell emptied by a removal), and
  * Spark lists only the leaves that are read.
  *
  * `schema` is the lake's resident schema (see [[SidecarMemo]]), so no
  * footer is inferred. No leaf to read yields an empty local frame of
  * that schema, which runs no job.
  */
private[operators] object Leaves {
  def read(spark: SparkSession, root: String, schema: StructType,
      partCol: String, ids: Iterable[Int]): DataFrame = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present =
      try fs.listStatus(rp).iterator.filter(_.isDirectory).map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    val leaves = ids.toSeq.distinct.sorted.map(i => s"$partCol=$i").filter(present)
    if (leaves.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", root)
      .parquet(leaves.map(l => new Path(rp, l).toString): _*)
  }
}
