package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{Formats, Transforms}
import graft.index.FileIndex

/** ETL format round-trips, pipe transforms, and file indexing /
  * duplicate detection on a synthetic temp tree.
  */
class EtlIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("csv/json/parquet round-trips preserve data") {
    // coalesce(1): multiple rows MUST share one part file — a reader
    // that only keeps the first record per file (e.g. multiLine JSON
    // over a JSON-lines sink) passed this test when every row had its
    // own part
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v").coalesce(1)
    for (ext <- Seq("csv", "json", "parquet", "orc")) {
      val dir = tmp(s"fmt-$ext") + s"/out.$ext"
      Formats.write(df, dir)
      val back = Formats.read(spark, dir)
      assert(back.count() == 2, ext)
      assert(back.columns.sorted.toSeq == Seq("id", "name", "v"), ext)
      assert(back.agg(sum("id")).as[Long].head() == 3L, ext)
    }
    // formats we can NAME but not serve must refuse loudly, not at
    // some later Spark lookup with an inscrutable provider error
    intercept[UnsupportedOperationException] { Formats.ofPath("x.avro") }
    intercept[UnsupportedOperationException] { Formats.ofPath("x.xls") }
  }

  test("xml round-trip via Spark 4 native source") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
    val dir = tmp("fmt-xml") + "/out.xml"
    Formats.write(df, dir)
    val back = Formats.read(spark, dir)
    assert(back.select("id", "name").as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y")))
  }

  test("xlsx round-trip via the dependency-free reader/writer") {
    val df = Seq((1L, "alpha", 1.5), (2L, "be<ta>&\"quoted\"", 2.0)).toDF("id", "name", "v")
    val path = tmp("xlsx") + "/report.xlsx"
    Formats.write(df, path)
    val back = Formats.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "v"))
    val rows = back.orderBy("id").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("1", "alpha", "1.5"), ("2", "be<ta>&\"quoted\"", "2.0")))
  }

  test("xlsx writer streams rows and refuses past maxRows (partial file deleted)") {
    // a multi-partition frame larger than any single partition buffer:
    // streams through toLocalIterator, never a row-scale driver array
    val big = spark.range(0, 5000, 1, 7)
      .selectExpr("id", "concat('row-', id) AS name")
    val dir = tmp("xlsx-stream")
    val okPath = s"$dir/ok.xlsx"
    graft.etl.Xlsx.write(big, okPath, maxRows = 5000)
    val back = graft.etl.Xlsx.read(spark, okPath)
    assert(back.count() === 5000L)
    assert(back.filter(col("id") === "4999").select("name").head.getString(0) === "row-4999")
    // one row past the cap: loud refusal AND no half-written workbook
    val badPath = s"$dir/bad.xlsx"
    val err = intercept[IllegalArgumentException] {
      graft.etl.Xlsx.write(big, badPath, maxRows = 4999)
    }
    assert(err.getMessage.contains("report-sized"))
    assert(!new java.io.File(badPath).exists(), "partial workbook left behind")
  }

  test("xlsx shared-strings and sparse numeric cells") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = tmp("xlsx-ss")
    val path = s"$dir/fixture.xlsx"
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def e(n: String, c: String): Unit = { zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry() }
    e("xl/sharedStrings.xml",
      """<sst><si><t>name</t></si><si><t>score</t></si><si><t>bob</t></si></sst>""")
    e("xl/worksheets/sheet2.xml", // sheet1 deleted from the workbook: parts are not renumbered
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42</v></c></row>
        |<row r="3"><c r="B3"><v>7.5</v></c></row>
        |<row r="4"><c r="A4" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val back = graft.etl.Xlsx.read(spark, path)
    assert(back.columns.toSeq == Seq("name", "score"))
    val rows = back.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("bob", "42"), (null, "7.5"), ("Hello World", null)))
  }

  test("jsonl/tsv read defaults: line-delimited JSON and tab separation") {
    val dir = tmp("fmt-lines")
    // .jsonl is line-delimited BY NAME — must not default to multiLine
    Files.writeString(Paths.get(s"$dir/events.jsonl"),
      """{"id": 1}
        |{"id": 2}
        |{"id": 3}""".stripMargin)
    assert(Formats.read(spark, s"$dir/events.jsonl").count() == 3)
    // .tsv parses on tabs, both directions
    Files.writeString(Paths.get(s"$dir/t.tsv"), "a\tb\n1\tx\n2\ty\n")
    val tsv = Formats.read(spark, s"$dir/t.tsv")
    assert(tsv.columns.toSeq == Seq("a", "b"))
    assert(tsv.count() == 2)
    val out = s"$dir/out.tsv"
    Formats.write(Seq((1, "x")).toDF("a", "b").coalesce(1), out)
    val back = Formats.read(spark, out)
    assert(back.columns.toSeq == Seq("a", "b"))
    // round-trip the DATA too — a header-only (or wrong-delimiter) write
    // would still produce the right column names
    assert(back.select("a", "b").as[(Int, String)].collect().toSeq == Seq((1, "x")))
  }

  test("registered native transforms apply by name") {
    Transforms.register("double_v", df => df.withColumn("v", col("v") * 2))
    val out = Transforms("double_v", Seq((1, 10.0)).toDF("id", "v"))
    assert(out.select("v").as[Double].head() == 20.0)
  }

  test("pipe transform streams JSON records through an external process") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val out = Transforms.pipe(df, Seq("cat"), Map("mode" -> "identity"))
    assert(out.count() == 2)
    assert(out.select("name").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("pipe with explicit schema parses without an inference pass") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val out = Transforms.pipe(df, Seq("cat"), schema = Some(schema))
    assert(out.schema == schema)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("pipe kills a slow child at the timeout and fails the task") {
    val df = Seq((1L, "a")).toDF("id", "name").coalesce(1)
    val ex = intercept[org.apache.spark.SparkException] {
      Transforms.pipe(df, Seq("sh", "-c", "sleep 30 && cat"), timeoutSec = 2).count()
    }
    // exit 124 is the timeout wrapper's signature — any other failure
    // (quoting bug, command-not-found) would pass a weaker assertion
    // without exercising the kill path
    assert(ex.getMessage.contains("status 124"),
      s"expected the timeout exit code in: ${ex.getMessage.take(300)}")
  }

  test("pipe identity-on-empty returns the input frame (reference contract)") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    // child writes nothing → reference treats the transform as identity
    val out = Transforms.pipe(df, Seq("sh", "-c", "cat > /dev/null"), identityOnEmpty = true)
    assert(out.collect().toSet == df.collect().toSet)
  }

  test("ETL job surface: full_etl with registered transform; failures captured") {
    import graft.etl.EtlJobs
    import graft.etl.EtlJobs._
    val dir = tmp("etljobs")
    Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "v")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/src.csv")
    Transforms.register("double_v_job", df => df.withColumn("v", col("v") * 2))

    val ok = EtlJobs.execute(spark, EtlJob(
      "j1", FullEtl, s"$dir/src.csv", Some(s"$dir/out.parquet"),
      transform = Some("double_v_job")))
    assert(ok.status == "completed" && ok.rowsWritten.contains(2L))
    val out = spark.read.parquet(s"$dir/out.parquet")
    assert(out.select(sum("v")).as[Double].head() == 60.0)

    // load = format conversion without transform
    val conv = EtlJobs.execute(spark, EtlJob(
      "j2", Load, s"$dir/out.parquet", Some(s"$dir/out.json")))
    assert(conv.status == "completed" && conv.rowsWritten.contains(2L))
    // Formats.read detects the Spark-written sink and reads JSON-lines
    assert(Formats.read(spark, s"$dir/out.json").count() == 2)

    // piped transform writing nothing → identity passthrough (reference
    // etl.py:216-220), not an empty destination
    val idEmpty = EtlJobs.execute(spark, EtlJob(
      "j5", FullEtl, s"$dir/src.csv", Some(s"$dir/out2.parquet"),
      transformCommand = Some(Seq("sh", "-c", "cat > /dev/null"))))
    assert(idEmpty.status == "completed" && idEmpty.rowsWritten.contains(2L))
    assert(spark.read.parquet(s"$dir/out2.parquet").count() == 2)

    // failures are captured as status, not thrown
    val missing = EtlJobs.execute(spark, EtlJob("j3", Extract, s"$dir/nope.csv"))
    assert(missing.status == "failed" && missing.error.nonEmpty)
    val noScript = EtlJobs.execute(spark, EtlJob("j4", Transform, s"$dir/src.csv"))
    assert(noScript.status == "failed" &&
      noScript.error.exists(_.contains("Transform script not provided")))
  }

  test("file index + duplicate groups + wasted bytes + upsert") {
    val root = tmp("fidx")
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    put("a/one.txt", "hello world")
    put("a/two.txt", "hello world") // dup of one
    put("b/three.txt", "hello world") // dup of one
    put("b/four.log", "different contents")
    put("b/.hidden", "hh") // Hadoop listing skips dot/underscore-prefixed files

    val idx = FileIndex.indexWithHash(spark, root)
    assert(idx.count() == 4)

    val visible = idx.filter(FileIndex.fileFilter(extensions = Seq("txt", "log")))
    assert(visible.count() == 4)
    assert(idx.filter(FileIndex.fileFilter(extensions = Seq("log"))).count() == 1)
    assert(idx.filter(FileIndex.fileFilter(
      includeGlobs = Seq("*/a/*"))).count() == 2)

    val groups = FileIndex.duplicateGroups(visible)
    assert(groups.count() == 1)
    val g = groups.head()
    assert(g.getAs[Long]("file_count") == 3)

    val report = FileIndex.duplicateReport(groups).head()
    assert(report.getAs[Long]("duplicate_files") == 3)
    assert(report.getAs[Long]("wasted_bytes") == 2 * "hello world".length)

    // upsert: newer row for same path wins
    val updated = idx.withColumn("modified_time",
      col("modified_time") + expr("INTERVAL 1 HOUR"))
      .withColumn("file_size", lit(999L))
    val merged = FileIndex.upsert(idx, updated)
    assert(merged.count() == 4)
    assert(merged.filter(col("file_size") === 999L).count() == 4)

    // search
    assert(FileIndex.searchByName(visible, "three").count() == 1)
    val h = visible.filter(col("file_name") === "one.txt").select("file_hash").as[String].head()
    assert(FileIndex.searchByHash(visible, h).count() == 3)
  }

  test("mime guess by extension with fallback") {
    val df = Seq("csv", "PNG", "weird").toDF("extension")
      .select(FileIndex.mimeOf(col("extension")).as("mime"))
    assert(df.as[String].collect().toSeq ==
      Seq("text/csv", "image/png", "application/octet-stream"))
  }

  test("migration: plan preserves structure, execute copies with results, summary rolls up") {
    val root = tmp("mig-src")
    val dest = tmp("mig-dst")
    Files.createDirectories(Paths.get(root, "a/b"))
    Files.writeString(Paths.get(root, "a/one.txt"), "first file")
    Files.writeString(Paths.get(root, "a/b/two.txt"), "second")
    val idx = FileIndex.indexMetadata(spark, root)
    val planned = graft.index.Migration.plan(idx, root, dest)
    val dests = planned.select("dest_path").as[String].collect().toSet
    assert(dests == Set(s"$dest/a/one.txt", s"$dest/a/b/two.txt"))

    val results = graft.index.Migration.execute(planned)
    assert(results.filter(col("success")).count() == 2)
    assert(Files.readString(Paths.get(dest, "a/b/two.txt")) == "second")

    val s = graft.index.Migration.summary(results).head()
    assert(s.getAs[Long]("total_files") == 2 && s.getAs[Long]("succeeded") == 2)
    assert(s.getAs[Double]("success_rate") == 1.0)
    assert(s.getAs[Long]("bytes_moved") == "first file".length + "second".length)

    // failure path: missing source file → retries then failure row
    val bad = planned.limit(1)
      .withColumn("file_path", lit(s"$root/does-not-exist.txt"))
      .withColumn("dest_path", lit(s"$dest/nope.txt"))
    val badRes = graft.index.Migration.execute(bad, maxRetries = 1, baseBackoffMs = 1).head()
    assert(!badRes.getAs[Boolean]("success") && badRes.getAs[Int]("attempts") == 2)
    assert(badRes.getAs[String]("error") != null)
  }

  test("migration: boundary-anchored roots — trailing slash and sibling prefixes never fuse paths") {
    val root = tmp("mig-bnd")
    val sibling = root + "2" // shares the name prefix, is NOT under root
    Files.createDirectories(Paths.get(root))
    Files.createDirectories(Paths.get(sibling))
    Files.writeString(Paths.get(root, "a.txt"), "in")
    Files.writeString(Paths.get(sibling, "b.txt"), "out")
    val both = FileIndex.indexMetadata(spark, root)
      .unionByName(FileIndex.indexMetadata(spark, sibling))
    // trailing-slash srcRoot + no-slash destRoot: the old raw
    // prefix-strip produced "<dest>a.txt" fused onto the parent name
    val planned = graft.index.Migration.plan(both, root + "/", tmp("mig-bnd-dst"))
    val dests = planned.select("file_path", "dest_path").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toMap
    val inDest = dests.collectFirst { case (k, v) if k.endsWith("a.txt") => v }.get
    assert(inDest.exists(_.endsWith("/a.txt")), s"fused path: $inDest")
    // the sibling tree is OUTSIDE srcRoot: null dest, never a guessed one
    val outDest = dests.collectFirst { case (k, v) if k.endsWith("b.txt") => v }.get
    assert(outDest.isEmpty, s"sibling-prefix path claimed: $outDest")
    // execute fails null-dest rows up front, no retries
    val res = graft.index.Migration.execute(planned, maxRetries = 3, baseBackoffMs = 1)
      .collect()
      .map(r => r.getString(0).split('/').last -> ((r.getBoolean(2), r.getInt(3))))
      .toMap
    assert(res("a.txt") === ((true, 1)))
    assert(res("b.txt") === ((false, 0)), "outside-root file must fail fast")
  }

  test("xlsx: first TAB wins (workbook.xml order), phonetic runs never leak into cells") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = tmp("xlsx-tab")
    val path = s"$dir/reordered.xlsx"
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def e(n: String, c: String): Unit = { zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry() }
    // the user dragged Sheet3 to be the first tab: part names are never
    // renumbered, so sheet1.xml still exists but is NOT the first sheet
    e("xl/workbook.xml",
      """<workbook xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Main" sheetId="3" r:id="rId3"/><sheet name="Old" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    e("xl/_rels/workbook.xml.rels",
      """<Relationships>
        |<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId3" Target="worksheets/sheet3.xml"/>
        |</Relationships>""".stripMargin)
    // shared string 0 carries a phonetic <rPh> run that must NOT leak
    e("xl/sharedStrings.xml",
      """<sst><si><r><t>kanji</t></r><rPh sb="0" eb="2"><t>FURIGANA</t></rPh></si></sst>""")
    e("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>stale</t></is></c></row></sheetData></worksheet>""")
    e("xl/worksheets/sheet3.xml",
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>col</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>0</v></c></row></sheetData></worksheet>""".stripMargin)
    zos.close()
    val back = graft.etl.Xlsx.read(spark, path)
    assert(back.columns.toSeq == Seq("col"), s"wrong sheet read: ${back.columns.toSeq}")
    assert(back.collect().map(_.getString(0)).toSeq == Seq("kanji"),
      "phonetic run leaked into the shared string")
  }

  test("metadata-only index prunes content and still lists files") {
    val root = tmp("fmeta")
    Files.writeString(Paths.get(root, "x.bin"), "abc")
    val meta = FileIndex.indexMetadata(spark, root)
    assert(meta.columns.toSet == Set("file_path", "file_name", "file_size", "modified_time", "extension"))
    assert(meta.head().getAs[Long]("file_size") == 3L)
  }

  test("compact: small files merge, data survives byte-for-byte, dirs rejected") {
    import graft.etl.Compact
    val dir = tmp("fcompact") + "/ds"
    val src = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
    src.repartition(24).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.count()
    val stats = Compact.compact(spark, dir, targetBytes = 1L << 30)
    assert(stats.filesBefore == 24 && stats.filesAfter == 1,
      s"expected 24 -> 1 files, got $stats")
    val after = spark.read.parquet(dir)
    assert(after.count() == beforeRows)
    assert(after.except(src).isEmpty && src.except(after).isEmpty,
      "compaction changed the data")
    // no leftover swap directories
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("ds"), s"swap residue: $parent")
    // a trailing slash must not nest the swap dirs inside the dataset
    val dir2 = tmp("fcompact2") + "/ds2"
    src.repartition(4).write.parquet(dir2)
    val s2 = Compact.compact(spark, dir2 + "/", targetBytes = 1L << 30)
    assert(s2.filesBefore == 4 && s2.filesAfter == 1)
    assert(spark.read.parquet(dir2).count() == beforeRows)
    assert(new java.io.File(dir2).getParentFile.list().toSeq == Seq("ds2"))
    // a partitioned root (subdirectories) is out of contract — fail
    // loudly WITH the subdirectory message, not "no data files"
    val partDir = tmp("fcompactp") + "/pds"
    src.withColumn("d", substring(col("event_type"), 1, 1))
      .write.partitionBy("d").parquet(partDir)
    val e = intercept[IllegalArgumentException](Compact.compact(spark, partDir))
    assert(e.getMessage.contains("subdirectories"), e.getMessage)
    intercept[IllegalArgumentException](Compact.compact(spark, dir, targetBytes = 0))
    // HIDDEN subdirs are crash residue/metadata, not partitions: a leaf
    // carrying `_temporary` from a crashed append must still compact
    // (the same isHiddenName rule compactPartitioned's leaves() applies
    // — refusing here would wedge the leaf leaves() just classified)
    val dir3 = tmp("fcompact3") + "/ds3"
    src.repartition(4).write.parquet(dir3)
    assert(new java.io.File(dir3, "_temporary/0").mkdirs())
    val s3 = Compact.compact(spark, dir3, targetBytes = 1L << 30)
    assert(s3.filesBefore == 4 && s3.filesAfter == 1)
    assert(spark.read.parquet(dir3).count() == beforeRows)
  }

  test("compactPartitioned: leaf dirs merge, partition columns survive") {
    import graft.etl.Compact
    val root = tmp("fcompactpart") + "/lake"
    val src = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
      .withColumn("d", substring(col("event_type"), 1, 1))
    // two-level partitioning, several small files per leaf
    src.withColumn("u", (col("user_id") % 2).cast("int"))
      .repartition(6)
      .write.partitionBy("d", "u").parquet(root)
    // EAGER content fingerprint: a lazy `before` frame would re-list the
    // (deleted) old files after the swap and fail the read
    def fp() = {
      val df = spark.read.parquet(root)
      // bit_xor, not sum: order-independent AND overflow-free under ANSI
      df.select(xxhash64(struct(df.columns.sorted.map(col): _*)).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
    }
    val beforeFp = fp()
    val beforeParts = spark.read.parquet(root).select("d", "u").distinct().count()
    val stats = Compact.compactPartitioned(spark, root, targetBytes = 1L << 30)
    assert(stats.nonEmpty, "no leaves compacted")
    assert(stats.forall(_._2.filesAfter == 1), s"leaves not fully merged: $stats")
    assert(stats.exists(_._2.filesBefore > 1), s"fixture had no small files: $stats")
    // every leaf path is a k=v partition directory two levels down
    assert(stats.forall(_._1.matches(".*\\bd=[^/]+/u=[^/]+$")), s"unexpected leaves: $stats")
    assert(fp() == beforeFp, "partitioned compaction changed the data")
    assert(spark.read.parquet(root).select("d", "u").distinct().count() == beforeParts,
      "partition column values did not survive")
    // root itself still has no stray files, only partition dirs
    val rootFiles = new java.io.File(root).listFiles().filter(_.isFile).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(rootFiles.isEmpty, s"stray files at root: ${rootFiles.toSeq}")
    // work dirs live OUTSIDE the lake (a sibling inside would read as a
    // partition directory) and a clean pass leaves no residue
    val siblings = new java.io.File(root).getParentFile.list().toSeq
    assert(siblings == Seq("lake"), s"work-dir residue next to the lake: $siblings")
    // an EMPTY parked tree (residue of an aborted pass) is cleared, not
    // a permanent blocker...
    assert(new java.io.File(root + "__compact_old/d=a").mkdirs())
    Compact.compactPartitioned(spark, root, targetBytes = 1L << 30)
    assert(!new java.io.File(root + "__compact_old").exists(), "empty residue not cleared")
    // ...but parked DATA blocks the pass (it may be a leaf's only copy)
    assert(new java.io.File(root + "__compact_old/d=a").mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root + "__compact_old/d=a/part-0.parquet"), "x")
    val crash = intercept[IllegalArgumentException](Compact.compactPartitioned(spark, root))
    assert(crash.getMessage.contains("crashed"), crash.getMessage)
    // a flat dataset fed to the partitioned API is redirected loudly
    val flat = tmp("fcompactflat") + "/ds"
    graft.Tables.t(spark, "/root/testdata/sf0.001", "region").write.parquet(flat)
    val e3 = intercept[IllegalArgumentException](Compact.compactPartitioned(spark, flat))
    assert(e3.getMessage.contains("flat"), e3.getMessage)
  }

  test("compactPartitioned: a file without a readable footer aborts the pass, every leaf untouched") {
    import graft.etl.Compact
    val root = tmp("fcompactbad") + "/lake"
    // 400 rows in two leaves, four files per leaf
    (0 until 400).map(i => (i.toLong, s"row-$i", if (i < 200) "a" else "b")).toDF("id", "s", "k")
      .repartition(4).write.partitionBy("k").parquet(root)
    def files(leaf: String) = new java.io.File(s"$root/$leaf").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
    assert(files("k=a").size == 4 && files("k=b").size == 4)
    // truncate one file of the SECOND leaf (and drop its checksum, or
    // the local file system refuses the read before parquet does)
    val bad = new java.io.File(s"$root/k=b", files("k=b").head)
    val ch = java.nio.channels.FileChannel.open(bad.toPath, java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(bad.length() / 2) finally ch.close()
    new java.io.File(bad.getParentFile, s".${bad.getName}.crc").delete()
    // a reader that skips the bad file would count the same rows on
    // both sides of the rewrite; the footers do not skip it
    val key = "spark.sql.files.ignoreCorruptFiles"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      def state() = Seq("k=a", "k=b").map(l =>
        (files(l), spark.read.schema("id long, s string").parquet(s"$root/$l").count()))
      val before = state()
      val e = intercept[IllegalStateException](
        Compact.compactPartitioned(spark, root, targetBytes = 1L << 30))
      assert(e.getMessage.contains(bad.getName), e.getMessage)
      assert(state() == before, "an aborted compaction changed a leaf")
      assert(!new java.io.File(root + "__compact_tmp").exists(), "work dir left behind")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("compactPartitioned: partition dir names survive byte for byte, leaves of differing schema") {
    import graft.etl.Compact
    val root = tmp("fcompactnames") + "/lake"
    // names type inference would rewrite (00 -> 0, 1e5 -> 100000.0) and
    // the null partition; an untagged and a tagged generation, like the
    // dedup ledger's, so leaves differ in schema and two straddle both
    val buckets = Seq("00", "07", "1e5", null)
    val rows = (0 until 80).map(i => (s"fp$i", buckets(i % 4)))
    rows.filter(_._2 != "1e5").toDF("fp", "bucket")
      .repartition(2).write.partitionBy("bucket").parquet(root)
    rows.filter(_._2 != "00").map { case (fp, b) => (fp + "t", s"tag-$fp", b) }
      .toDF("fp", "batch_tag", "bucket")
      .repartition(2).write.mode("append").partitionBy("bucket").parquet(root)
    def leaves() = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    def leafRows() = leaves().toSeq.map(l =>
      l -> spark.read.schema("fp string, batch_tag string").parquet(s"$root/$l").collect().toSet).toMap
    def rootRead() = spark.read.option("mergeSchema", "true").parquet(root).collect().toSet
    val (leaves0, leafRows0, root0) = (leaves(), leafRows(), rootRead())
    assert(leaves0 == Set("bucket=00", "bucket=07", "bucket=1e5", "bucket=__HIVE_DEFAULT_PARTITION__"))
    val stats = Compact.compactPartitioned(spark, root, targetBytes = 1L << 30)
    assert(stats.size == 4 && stats.forall(_._2.filesAfter == 1), s"not every leaf merged: $stats")
    assert(leaves() == leaves0, "a partition dir was renamed")
    assert(leafRows() == leafRows0, "a leaf's rows changed")
    assert(rootRead() == root0, "the root read changed")
  }

  test("compactPartitioned: one pass is three Spark jobs, past Spark's parallel-listing threshold too") {
    // 40 fragmented files: listed one by one, Spark would list them in
    // a job of its own per read
    val root = tmp("fcompactjobs") + "/lake"
    (0 until 4000).map(i => (i.toLong, s"r$i", i % 2)).toDF("id", "s", "k")
      .repartition(20).write.partitionBy("k").parquet(root)
    var stats: Seq[(String, graft.etl.Compact.CompactStats)] = Nil
    val n = jobsDuring { stats = graft.etl.Compact.compactPartitioned(spark, root, targetBytes = 1L << 30) }
    assert(stats.map(_._2.filesBefore) == Seq(20, 20), s"$stats")
    assert(n <= 3, s"compaction of two 20-file leaves ran $n Spark jobs")
  }

  test("compaction splits a directory whose bytes call for several files") {
    import graft.etl.Compact
    val src = graft.Tables.t(spark, "/root/testdata/sf0.001", "events")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(struct(df.columns.sorted.map(col): _*)).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
    def bytes(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    // flat: 12 files whose bytes call for 3
    val dir = tmp("fcompactsplit") + "/ds"
    src.repartition(12).write.parquet(dir)
    val fp0 = fp(spark.read.parquet(dir))
    val s = Compact.compact(spark, dir, targetBytes = bytes(dir) / 3 + 1)
    assert(s.filesBefore == 12 && s.filesAfter > 1 && s.filesAfter <= 3, s"$s")
    assert(fp(spark.read.parquet(dir)) == fp0, "the split rewrite changed the data")
    // partitioned: the salt splits only the leaf whose bytes call for it
    val root = tmp("fcompactsplitp") + "/lake"
    src.filter(col("user_id") % 4 =!= 0).withColumn("big", lit(true))
      .repartition(12).write.partitionBy("big").parquet(root)
    src.filter(col("user_id") % 4 === 0).withColumn("big", lit(false))
      .repartition(2).write.mode("append").partitionBy("big").parquet(root)
    val fpRoot0 = fp(spark.read.parquet(root))
    val stats = Compact.compactPartitioned(spark, root,
      targetBytes = bytes(s"$root/big=true") / 2 + 1).toMap
    val (big, small) = (stats.find(_._1.endsWith("big=true")).get._2,
      stats.find(_._1.endsWith("big=false")).get._2)
    assert(big.filesAfter == 2 && small.filesAfter == 1, s"$stats")
    assert(fp(spark.read.parquet(root)) == fpRoot0, "the split rewrite changed the data")
  }
}
