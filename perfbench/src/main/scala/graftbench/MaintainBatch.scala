package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.json4s._

import graft.SparkEntry
import graft.index.FileIndex
import graft.operators.{Ann, Dedup}

/** The scheduled side, one step after another the way the scheduler
  * runs them, each write followed by a read:
  *  1. a file tree is hashed, saved and checked for duplicates, then
  *     mutated, rescanned and upserted, and checked again;
  *  2. an IVF index is built, appended to, pruned and compacted, and
  *     queried after each of those writes;
  *  3. a list of `SparkEntry.queries` runs in a seeded order, each
  *     result written as parquet (checked against DuckDB by run.py
  *     after the JVM exits).
  * Set-up runs every query once at a tiny scale, so the timed pass pays
  * no first-plan analysis or code generation for them.
  *
  * Inputs (from gen.py): `tree/{base,staged,plan.json}`, `tables/`
  * (measured scale), `warm/` (tiny scale) and `batch.json` =
  * {k, emb: splits, ann_queries, queries: [name]}. Writes `out/<name>/`
  * per query and `out/oracle_sql.json` (name -> DuckDB SQL).
  */
object MaintainBatch {
  private val EmbRowBytes = 8L + 64L * 4L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val plan = Json.parseFile(s"${ctx.work}/tree/plan.json")
    val spec = Json.parseFile(s"${ctx.work}/batch.json")
    val k = Json.int(spec \ "k", 10)
    val embs = spark.read.parquet(s"${ctx.work}/tables/embeddings.parquet")
    val annQ = (spec \ "ann_queries").asInstanceOf[JArray].arr.zipWithIndex
      .map { case (v, i) => (i.toLong, Json.floats(v)) }.toDF("q_id", "qvec")
    val queries = Json.strs(spec \ "queries").map(n => n -> SparkEntry.queries(n))
    val (setups, _) = Main.setups(ctx) { _ =>
      for ((_, fn) <- queries) {
        fn(spark, s"${ctx.work}/warm").write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
      }
    }(_ => ())

    val files = mutable.ArrayBuffer.empty[Double]
    val passes = Main.passes(ctx) { p =>
      val dir = s"${ctx.work}/pass$p"
      fileIndexPass(ctx, plan, dir, p)
      ctx.log("file index done")
      ivfLifecycle(ctx, spec \ "emb", embs, annQ, k, s"$dir/ivf", p, files)
      ctx.log("ivf lifecycle done")
      for ((name, fn) <- queries) {
        ctx.rec.run(s"queries.$name", "read", p) {
          val df = ctx.tracer.span(s"queries.$name.build")(fn(spark, s"${ctx.work}/tables"))
          ctx.tracer.span(s"queries.$name.serve") {
            df.write.mode("overwrite").parquet(s"${ctx.work}/out/$name")
          }
        }
        spark.catalog.clearCache()
      }
      ctx.log("queries done")
    }
    val oracles = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(ctx.work, "out"))
    Json.write(s"${ctx.work}/out/oracle_sql.json",
      Json.obj(queries.flatMap { case (n, _) => oracles.get(n).map(sql => n -> Json.str(sql)) }: _*))
    Outcome(setups, passes, Map("index_files.ivf" -> (if (files.isEmpty) 0.0 else files.sum / files.size)))
  }

  /** Build on the base split, then per round append, read, remove
    * seeded victims, read; then compact and read. After every write
    * the index must serve exactly the expected live ids.
    */
  private def ivfLifecycle(ctx: Ctx, splits: JValue, embs: org.apache.spark.sql.DataFrame,
      annQ: org.apache.spark.sql.DataFrame, k: Int, path: String, p: Int,
      files: mutable.ArrayBuffer[Double]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rowsOf = (ids: Seq[Long]) => embs.join(ids.toDF("vec_id"), Seq("vec_id"), "left_semi")
    val base = Json.longs(splits \ "base")
    var live = base.toSet
    // cells and probe depth from the corpus size, as the program
    // recommends for deployment (RecallBoard.scaledAnnParams)
    val (nlist, nprobe, _) = graft.RecallBoard.scaledAnnParams(live.size.toLong)

    def write(verb: String, rows: Int, thenRead: Boolean = true)(body: => Unit): Unit = {
      val inputBytes = rows * EmbRowBytes.toDouble
      val (op, _) = ctx.rec.run(s"ivf.$verb", "write", p) {
        ctx.tracer.span(s"operators.ivf.$verb", attrs = Map("input_bytes" -> inputBytes))(body)
      }
      ctx.harness() {
        files += dataFiles(Paths.get(path, "base")).toDouble
        if (op.ok) {
          val got = Ann.indexIds(spark, path).collect().map(_.getLong(0)).toSet
          if (got != live)
            ctx.rec.fail(op, s"index serves ${got.size} ids, ${live.size} expected " +
              s"(${(got -- live).size} extra, ${(live -- got).size} missing)")
        }
      }
      if (thenRead) read()
    }

    def read(): Unit = {
      val (op, rows) = ctx.rec.run("ivf.read", "read", p) {
        ctx.tracer.span("operators.queryIvfIndex") {
          Dedup.scoped {
            Ann.queryIvfIndex(spark, path, annQ, col("q_id"), col("qvec"), k, nprobe)
              .select(col("q_id"), col("b_id")).collect().toSeq
          }
        }
      }
      for (rs <- rows) ctx.harness() {
        val ids = rs.map(_.getLong(1))
        if (rs.groupBy(_.getLong(0)).values.exists(_.size > k)) ctx.rec.fail(op, s"more than $k rows for a query")
        else if (!ids.forall(live)) ctx.rec.fail(op, s"served ${ids.count(i => !live(i))} ids not in the index")
        else if (rs.isEmpty) ctx.rec.fail(op, "no rows served")
      }
    }

    write("build", base.size, thenRead = false) {
      Ann.buildIvfIndex(rowsOf(base), col("vec_id"), col("embedding"), path, nlist)
    }
    (splits \ "rounds").asInstanceOf[JArray].arr.foreach { round =>
      val app = Json.longs(round \ "append")
      live ++= app
      write("add", app.size) {
        Ann.addToIvfIndex(spark, path, rowsOf(app), col("vec_id"), col("embedding"))
      }
      val vic = Json.longs(round \ "remove")
      live --= vic
      write("remove", 0) {
        Ann.removeFromIvfIndex(spark, path, vic.toDF("id"), col("id"))
      }
    }
    write("compact", 0) {
      Ann.compactIndex(spark, path)
    }
  }

  /** Hash, save and dedup the tree; mutate it; rescan and upsert; dedup
    * again. Duplicate groups must equal the generator's planted sets.
    */
  private def fileIndexPass(ctx: Ctx, plan: JValue, dir: String, p: Int): Unit = {
    val spark = ctx.spark
    val tree = Paths.get(dir, "tree")
    ctx.harness()(copyTree(Paths.get(ctx.work, "tree", "base"), tree))
    val treeBytes = Json.int(plan \ "tree_bytes", 0).toDouble
    val idx0 = s"$dir/fileindex0"
    val idx1 = s"$dir/fileindex1"

    def groups(index: String, want: JValue): Unit = {
      val (op, got) = ctx.rec.run("index.duplicateGroups", "read", p) {
        ctx.tracer.span("index.duplicateGroups") {
          val g = FileIndex.duplicateGroups(spark.read.parquet(index))
          val report = FileIndex.duplicateReport(g).collect()
          (g.collect().toSeq, report)
        }
      }
      for ((rows, _) <- got) ctx.harness() {
        val sets = rows.map(r => r.getAs[scala.collection.Seq[Row]]("files")
          .map(f => relative(f.getAs[String]("file_path"))).sorted).sortBy(_.mkString("\u0000"))
        val expect = (want match { case JArray(gs) => gs.map(g => Json.strs(g).sorted); case _ => Nil })
          .sortBy(_.mkString("\u0000"))
        if (sets != expect)
          ctx.rec.fail(op, s"${sets.size} duplicate groups found, ${expect.size} planted")
      }
    }

    ctx.rec.run("index.indexWithHash", "write", p) {
      ctx.tracer.span("index.indexWithHash", attrs = Map("tree_bytes" -> treeBytes)) {
        FileIndex.save(FileIndex.indexWithHash(spark, tree.toUri.toString), idx0)
      }
    }
    groups(idx0, plan \ "dups_before")
    ctx.harness()(applyMutations(ctx, plan, tree))
    ctx.rec.run("index.upsert", "write", p) {
      ctx.tracer.span("index.upsert", attrs = Map("tree_bytes" -> Json.int(plan \ "rescan_bytes", 0).toDouble)) {
        FileIndex.save(FileIndex.upsert(spark.read.parquet(idx0),
          FileIndex.indexWithHash(spark, tree.toUri.toString)), idx1)
      }
    }
    groups(idx1, plan \ "dups_after_upsert")
  }

  private def relative(uri: String): String = {
    val i = uri.lastIndexOf("/tree/")
    if (i < 0) uri else uri.substring(i + "/tree/".length)
  }

  private def applyMutations(ctx: Ctx, plan: JValue, tree: Path): Unit =
    (plan \ "ops").asInstanceOf[JArray].arr.foreach { op =>
      val target = tree.resolve((op \ "path").asInstanceOf[JString].s)
      (op \ "op").asInstanceOf[JString].s match {
        case "delete" => Files.delete(target)
        case _ =>
          Files.createDirectories(target.getParent)
          Files.copy(Paths.get(ctx.work, "tree", "staged", (op \ "staged").asInstanceOf[JString].s),
            target, StandardCopyOption.REPLACE_EXISTING)
      }
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Data files under an index leaf: what a query has to open. */
  private def dataFiles(root: Path): Int =
    if (!Files.isDirectory(root)) 0
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      } finally walk.close()
    }
}
