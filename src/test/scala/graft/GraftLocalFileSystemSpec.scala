package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftLocalFileSystem]] is the session's `file:` filesystem, and it
  * differs from Hadoop's stock [[LocalFileSystem]] only in how it sets mode
  * bits: same bits, same `.crc` files, same checksum verification on read.
  */
class GraftLocalFileSystemSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("the session's file: filesystem is GraftLocalFileSystem, cache included") {
    // FileSystem.get answers from the JVM-wide cache, so this also catches a
    // stock instance cached before the session was built
    val fs = FileSystem.get(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ===
      classOf[GraftLocalFileSystem.Raw])
  }

  /** Every entry under `root`, by relative path with the per-write part-file
    * ids masked, mapped to its rwx string.
    */
  private def modes(root: String): Map[String, String] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p: JPath =>
      base.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally walk.close()
  }

  private def writeParquet(out: String, opts: Map[String, String]): Unit =
    spark.range(200).selectExpr("id", "id % 3 AS k").repartition(2)
      .write.options(opts).partitionBy("k").parquet(out)

  test("a parquet write sets the same permission bits as stock LocalFileSystem " +
      "under the same umask") {
    val dir = TestSpark.tmpDir("graft_fs_perm")
    // an uncached instance of `impl` built from the write's own conf, so the
    // umask option reaches the filesystem
    def via(impl: Class[_], umask: String) = Map(
      "fs.file.impl" -> impl.getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.permissions.umask-mode" -> umask)
    // the session's cached instance, at the conf's default umask (022)
    writeParquet(s"$dir/session", Map.empty)
    writeParquet(s"$dir/stock", via(classOf[LocalFileSystem], "022"))
    val session = modes(s"$dir/session")
    assert(session.keys.exists(_.endsWith(".parquet.crc")))
    assert(session === modes(s"$dir/stock"))
    for (umask <- Seq("022", "027", "077")) {
      writeParquet(s"$dir/graft-$umask", via(classOf[GraftLocalFileSystem], umask))
      writeParquet(s"$dir/stock-$umask", via(classOf[LocalFileSystem], umask))
      val graft = modes(s"$dir/graft-$umask")
      assert(graft === modes(s"$dir/stock-$umask"), s"umask $umask")
      // the umask took effect, so the comparison is not vacuous
      if (umask == "077") assert(graft.values.forall(_.endsWith("---")), graft)
    }
  }

  test(".crc files are written, and a flipped byte in a data file fails the " +
      "read with a ChecksumException") {
    val out = s"${TestSpark.tmpDir("graft_fs_crc")}/t"
    writeParquet(out, Map.empty)
    val walk = Files.walk(Paths.get(out))
    val data = try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
    assert(data.nonEmpty)
    data.foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"no .crc for $p")
    }
    assert(spark.read.parquet(out).count() === 200)
    val victim = data.head.toFile
    val raf = new RandomAccessFile(victim, "rw")
    try {
      val at = victim.length / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    val e = intercept[Exception](spark.read.parquet(out).collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ChecksumException]), e)
  }
}
