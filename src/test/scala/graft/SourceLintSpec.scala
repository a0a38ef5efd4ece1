package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules the compiler cannot check, read from `src/main`. */
class SourceLintSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src", "main"))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .toList
    finally walk.close()
  }

  /** Code lines of a source file: line comments, scaladoc and block
    * comment lines are dropped, so prose may name what code may not do.
    */
  private def codeLines(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex
      .map { case (l, i) => (l.replaceAll("//.*$", "").trim, i + 1) }
      .filterNot { case (l, _) => l.startsWith("*") || l.startsWith("/*") }

  test("a Hadoop Configuration is constructed only by the file index's hashing context") {
    // A fresh Configuration parses core-default.xml on its first lookup
    // and knows none of the session's settings (spark.hadoop.*, s3a
    // credentials, custom fs.<scheme>.impl): code reaches the file
    // system through the session's configuration instead.
    val construct =
      """new\s+(org\.apache\.hadoop\.conf\.Configuration|Configuration|(org\.apache\.hadoop\.mapred\.)?JobConf)\s*\(""".r
    val owner = Paths.get("src", "main", "scala", "graft", "index", "FileIndex.scala")
    val sources = mainSources
    assert(sources.contains(owner), s"$owner not found under src/main")
    val hits = for {
      p <- sources
      (l, n) <- codeLines(p)
      if construct.findFirstIn(l).isDefined
    } yield (p, n)
    val outside = hits.filter(_._1 != owner)
    assert(outside.isEmpty, "Hadoop Configuration constructed outside FileIndex.HashConf: " +
      outside.map { case (p, n) => s"$p:$n" }.mkString(", "))
    assert(hits.count(_._1 == owner) == 1, s"FileIndex constructs ${hits.count(_._1 == owner)} Configurations, expected 1")
  }

  test("mergeSchema is read only by the compaction core") {
    // A rewrite that unions schemas outside etl/Compact.scala would be a
    // second owner of the rule for which columns a rewritten lake keeps.
    val owner = Paths.get("src", "main", "scala", "graft", "etl", "Compact.scala")
    val hits = for {
      p <- mainSources
      (l, n) <- codeLines(p)
      if l.contains("mergeSchema")
    } yield (p, n)
    assert(hits.exists(_._1 == owner), s"$owner no longer resolves the rewrite schema")
    val outside = hits.filter(_._1 != owner)
    assert(outside.isEmpty, "mergeSchema outside etl/Compact.scala: " +
      outside.map { case (p, n) => s"$p:$n" }.mkString(", "))
  }

  test("a file system rename is called only by the swap core") {
    // Every directory replace parks, swaps and recovers through
    // etl/Compact.scala (swapInto, replaceDir, rewriteJournaled and
    // convergeCrashedSwap); a rename elsewhere would be a second
    // crash-recovery rule with windows no rerun knows how to converge.
    val owner = Paths.get("src", "main", "scala", "graft", "etl", "Compact.scala")
    val rename = """\.rename\s*\(""".r
    val hits = for {
      p <- mainSources
      (l, n) <- codeLines(p)
      if rename.findFirstIn(l).isDefined
    } yield (p, n)
    assert(hits.exists(_._1 == owner), s"$owner no longer owns the swap renames")
    val outside = hits.filter(_._1 != owner)
    assert(outside.isEmpty, "rename outside etl/Compact.scala: " +
      outside.map { case (p, n) => s"$p:$n" }.mkString(", "))
  }

  test("an index lake's partition column is never filtered with isin outside the leaf reader") {
    // A request-dependent id list in a filter becomes literals in the
    // generated code (an IN switch and its bounds), so every new probe
    // set or vocabulary compiles new classes. Probed cell=/bucket=
    // leaves are opened by path through operators/Leaves.scala.
    val owner = Paths.get("src", "main", "scala", "graft", "operators", "Leaves.scala")
    val partIsin =
      """(\(\s*["`]?(cell|bucket|partCol)["`]?\s*\)|\$"(cell|bucket)")\s*\.\s*(isin|isInCollection)\b""".r
    val sources = mainSources
    assert(sources.contains(owner), s"$owner not found under src/main")
    val hits = for {
      p <- sources
      if p != owner
      (l, n) <- codeLines(p)
      if partIsin.findFirstIn(l).isDefined
    } yield s"$p:$n"
    assert(hits.isEmpty, "partition column filtered with isin outside the leaf reader: " +
      hits.mkString(", "))
  }

  test("a typed aggregator's output encoder is built once, not derived per call") {
    // Spark asks for the output encoder inside tasks; an encoder derived
    // there by Scala reflection, under an executor class loader, can
    // fail to resolve scala.Nothing. Build it in a val on the driver.
    val derive = """ExpressionEncoder\s*[\[(]|Encoders\s*\.|\bencoderFor\b|\bimplicitly\s*\[""".r
    val hits = for {
      p <- mainSources
      lines = codeLines(p)
      ((l, n), i) <- lines.zipWithIndex
      if l.contains("def outputEncoder")
      // the definition's line, and the next one when the body starts there
      body = l + (if (l.endsWith("=") || l.endsWith("{")) lines.lift(i + 1).map(_._1).getOrElse("") else "")
      if derive.findFirstIn(body.substring(body.indexOf("def outputEncoder"))).isDefined
    } yield s"$p:$n"
    assert(hits.isEmpty, "output encoder derived inside def outputEncoder: " + hits.mkString(", "))
  }

  test("a query-vector norm is computed only by Ann.validQueries") {
    // Every ANN verb takes its valid queries (q_id, q_emb, qp_nrm) from
    // Ann.validQueries; a second norm of q_emb would be a second rule
    // for which queries score, and a second name for their norm.
    val owner = Paths.get("src", "main", "scala", "graft", "operators", "Ann.scala")
    val queryNorm = """norm2\s*\(\s*col\s*\(\s*"q_emb"\s*\)\s*\)""".r
    val hits = for {
      p <- mainSources
      lines = codeLines(p)
      ((l, n), i) <- lines.zipWithIndex
      if queryNorm.findFirstIn(l).isDefined
      // the nearest definition at or above the line
      enclosing = lines.take(i + 1).reverseIterator.map(_._1).find(_.contains("def ")).getOrElse("")
    } yield (p, n, enclosing)
    assert(hits.exists(_._1 == owner), "Ann.validQueries no longer computes the query norm")
    val outside = hits.filterNot { case (p, _, d) => p == owner && d.contains("def validQueries") }
    assert(outside.isEmpty, "query-vector norm outside Ann.validQueries: " +
      outside.map { case (p, n, _) => s"$p:$n" }.mkString(", "))
  }

  test("file listings use listStatus, never listFiles or listLocatedStatus") {
    // Hadoop's listFiles and listLocatedStatus build a LocatedFileStatus
    // per entry; without the native library the local file system fills
    // in its permissions by running `ls -ld` in a subprocess per file.
    // Walk with listStatus (graft.etl.Compact.walkFiles). Only calls with
    // arguments match: java.io.File.listFiles() takes none.
    val located = """\b(listFiles|listLocatedStatus)\s*\(\s*[^)\s]""".r
    val hits = for {
      p <- mainSources
      (l, n) <- codeLines(p)
      if located.findFirstIn(l).isDefined
    } yield s"$p:$n"
    assert(hits.isEmpty, "Hadoop listFiles/listLocatedStatus in src/main: " + hits.mkString(", "))
  }
}
