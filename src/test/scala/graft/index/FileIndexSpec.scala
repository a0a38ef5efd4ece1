package graft.index

import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.HexFormat
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** A local file system under its own scheme (`probefs`) that counts the
  * opens of every path and, while `failWrites` is set, refuses to
  * create files. Known to a session only through its Hadoop
  * configuration (`fs.probefs.impl`), uncached so that no other
  * configuration can borrow an instance.
  */
class ProbeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("probefs:///")
  override def getScheme: String = "probefs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ProbeFileSystem.opens.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger()).incrementAndGet()
    super.open(f, bufferSize)
  }
  private def refuseWrites(f: Path): Unit =
    if (ProbeFileSystem.failWrites) throw new java.io.IOException(s"refused: create $f")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    refuseWrites(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    refuseWrites(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ProbeFileSystem {
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  @volatile var failWrites = false

  def registered[A](conf: Configuration)(body: => A): A = {
    conf.set("fs.probefs.impl", classOf[ProbeFileSystem].getName)
    conf.setBoolean("fs.probefs.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.probefs.impl")
      conf.unset("fs.probefs.impl.disable.cache")
      failWrites = false
    }
  }
}

/** The file index's hash kernel and its crash-safe, read-once save. */
class FileIndexSpec extends SparkSpecBase {

  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def jdkHex(file: java.nio.file.Path, jca: String): String =
    HexFormat.of().formatHex(MessageDigest.getInstance(jca).digest(Files.readAllBytes(file)))

  private def hashes(index: org.apache.spark.sql.DataFrame): Map[String, String] =
    index.select("file_name", "file_hash").as[(String, String)].collect().toMap

  test("hash kernel: every algorithm's digest equals the JDK's over the whole file, at every buffer edge") {
    val root = tmp("fidx_kernel")
    val mib = 1 << 20
    val rnd = new scala.util.Random(11)
    val sizes = Seq(0, 1, mib - 1, mib, mib + 1, 3 * mib)
    def file(n: Int) = Paths.get(root, s"f$n.bin")
    for (n <- sizes) Files.write(file(n), Array.tabulate(n)(_ => rnd.nextInt().toByte))
    val conf = spark.sparkContext.hadoopConfiguration
    for ((algo, jca) <- Seq("md5" -> "MD5", "sha1" -> "SHA-1", "sha256" -> "SHA-256", "sha512" -> "SHA-512")) {
      for (n <- sizes)
        assert(FileIndex.streamHashHex(file(n).toUri.toString, jca, conf) == jdkHex(file(n), jca), s"$algo, $n bytes")
      // the scan stores the kernel's digest (the listing skips empty files)
      val got = hashes(FileIndex.indexWithHash(spark, root, algo))
      for (n <- sizes if n > 0) assert(got(s"f$n.bin") == jdkHex(file(n), jca), s"$algo, $n bytes, scanned")
    }
  }

  test("save opens every file once, through a file system the session's Hadoop conf alone knows") {
    val root = tmp("fidx_probefs")
    val names = (0 until 6).map(i => s"doc$i.txt") :+ "copy.txt"
    names.zipWithIndex.foreach { case (n, i) => Files.writeString(Paths.get(root, n), "x" * (1 + (i % 6) * 1000)) }
    val out = tmp("fidx_probefs_out") + "/idx"
    def opensOf(f: String) = Option(ProbeFileSystem.opens.get(Paths.get(root, f).toString)).fold(0)(_.get)
    ProbeFileSystem.registered(spark.sparkContext.hadoopConfiguration) {
      ProbeFileSystem.opens.clear()
      FileIndex.save(FileIndex.indexWithHash(spark, s"probefs://$root"), out)
      for (f <- names) assert(opensOf(f) == 1, s"$f opened ${opensOf(f)} times")
      val saved = spark.read.parquet(out)
      assert(hashes(saved) == names.map(f => f -> jdkHex(Paths.get(root, f), "SHA-256")).toMap)
      assert(FileIndex.duplicateGroups(saved).count() == 1) // copy.txt and doc0.txt
      // an upsert saved into the index it reads: again one open per file
      ProbeFileSystem.opens.clear()
      FileIndex.save(FileIndex.upsert(spark.read.parquet(out),
        FileIndex.indexWithHash(spark, s"probefs://$root")), out)
      for (f <- names) assert(opensOf(f) == 1, s"$f opened ${opensOf(f)} times on upsert")
    }
  }

  test("save: an upsert into its own path lands the upserted rows, ordered by path") {
    val root = tmp("fidx_self")
    val idx = tmp("fidx_self_out") + "/idx"
    Files.writeString(Paths.get(root, "a.txt"), "alpha")
    Files.writeString(Paths.get(root, "b.txt"), "beta")
    Files.writeString(Paths.get(root, "c.txt"), "gamma")
    FileIndex.save(FileIndex.indexWithHash(spark, root), idx)
    val before = spark.read.parquet(idx)
    assert(before.columns.toSeq == FileIndex.indexWithHash(spark, root).columns.toSeq)
    val cHash = hashes(before)("c.txt")
    Files.writeString(Paths.get(root, "b.txt"), "beta, edited")
    Files.delete(Paths.get(root, "c.txt"))
    Files.writeString(Paths.get(root, "0.txt"), "new")
    FileIndex.save(FileIndex.upsert(spark.read.parquet(idx), FileIndex.indexWithHash(spark, root)), idx)
    val after = spark.read.parquet(idx)
    val paths = after.select("file_path").as[String].collect().toSeq
    assert(paths == paths.sorted)
    // the deleted file keeps its old row: upsert replaces and adds, never drops
    assert(paths.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("0.txt", "a.txt", "b.txt", "c.txt"))
    val h = hashes(after)
    assert(h("b.txt") == jdkHex(Paths.get(root, "b.txt"), "SHA-256"))
    assert(h("0.txt") == jdkHex(Paths.get(root, "0.txt"), "SHA-256"))
    assert(h("c.txt") == cHash)
  }

  test("save: a write that fails midway leaves the previous index readable and unchanged") {
    val root = tmp("fidx_crash")
    Seq("a.txt", "b.txt", "c.txt").foreach(f => Files.writeString(Paths.get(root, f), f))
    val idx = s"probefs://${tmp("fidx_crash_out")}/idx"
    ProbeFileSystem.registered(spark.sparkContext.hadoopConfiguration) {
      FileIndex.save(FileIndex.indexWithHash(spark, root), idx)
      def rows() = spark.read.parquet(idx).collect().map(_.toSeq).toSet
      val before = rows()
      assert(before.size == 3)
      Files.writeString(Paths.get(root, "d.txt"), "d.txt")
      ProbeFileSystem.failWrites = true
      intercept[Exception](FileIndex.save(FileIndex.indexWithHash(spark, root), idx))
      ProbeFileSystem.failWrites = false
      assert(rows() == before)
    }
  }

  test("save runs two Spark jobs, with or without the hash") {
    val root = tmp("fidx_jobs")
    (0 until 5).foreach(i => Files.writeString(Paths.get(root, s"f$i.txt"), s"file $i"))
    val out = tmp("fidx_jobs_out")
    val meta = jobsDuring(FileIndex.save(FileIndex.indexMetadata(spark, root), s"$out/meta"))
    val hashed = jobsDuring(FileIndex.save(FileIndex.indexWithHash(spark, root), s"$out/hashed"))
    info(s"save jobs: metadata $meta, hashed $hashed")
    assert(meta <= 2 && hashed <= 2, s"metadata $meta, hashed $hashed")
  }
}
