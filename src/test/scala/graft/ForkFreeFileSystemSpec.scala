package graft

import java.nio.file.{Files, Path => NPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.catalyst.TableIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.GraftSession
import graft.sources.ForkFreeLocalFileSystem

/** The `file:` filesystem of engine sessions ([[ForkFreeLocalFileSystem]]):
  * every way the engine makes files and directories leaves the modes
  * Hadoop's `chmod` would, with `.crc` sidecars that reads still verify.
  */
class ForkFreeFileSystemSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private lazy val g = {
    val g = new GraftSession(spark)
    g.sql("DROP DATABASE IF EXISTS ffs")
    g.sql("CREATE DATABASE ffs")
    g
  }

  private def hconf = spark.sessionState.newHadoopConf()

  private def mode(p: NPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def walk(dir: NPath): Vector[NPath] = {
    val w = Files.walk(dir)
    try w.iterator.asScala.toVector finally w.close()
  }

  private def tableDir(table: String): NPath =
    Paths.get(spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(table, Some("ffs"))).location)

  private def parts(dir: NPath): Vector[NPath] =
    walk(dir).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("part-") && n.endsWith(".parquet")
    }

  private def crcOf(part: NPath): NPath =
    part.resolveSibling("." + part.getFileName + ".crc")

  test("FileSystem.getLocal and the warehouse path resolve to the fork-free " +
    "filesystem") {
    assert(FileSystem.getLocal(hconf).isInstanceOf[ForkFreeLocalFileSystem])
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    assert(wh.getFileSystem(hconf).isInstanceOf[ForkFreeLocalFileSystem])
  }

  test("parts and directories from a direct INSERT, a job-path INSERT SELECT, " +
    "OPTIMIZE FINAL and CREATE DATABASE get Hadoop's default modes, with .crc " +
    "sidecars") {
    val fs = FileSystem.getLocal(hconf)
    val umask = FsPermission.getUMask(fs.getConf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    g.sql("CREATE TABLE ffs.modes (k Int64, d Date) ENGINE = MergeTree " +
      "PARTITION BY toYYYYMM(d) ORDER BY k")
    val dir = tableDir("modes")
    def check(stage: String, minParts: Int): Unit = {
      val ps = parts(dir)
      assert(ps.size >= minParts, s"$stage: ${walk(dir).mkString("\n")}")
      ps.foreach { p =>
        assert(mode(p) === fileMode, s"$stage: $p")
        assert(Files.isRegularFile(crcOf(p)), s"$stage: no checksum for $p")
        assert(mode(crcOf(p)) === fileMode, s"$stage: ${crcOf(p)}")
      }
      // partition directories: made by the direct writer's mkdirs and by
      // the job commit, never by java.nio
      val partDirs = walk(dir).filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.contains("="))
      assert(partDirs.nonEmpty, stage)
      partDirs.foreach(p => assert(mode(p) === dirMode, s"$stage: $p"))
    }
    g.sql("INSERT INTO ffs.modes VALUES (1, '2021-01-05'), (2, '2021-02-06')")
    check("direct INSERT", 2)
    g.sql("INSERT INTO ffs.modes SELECT number + 10, " +
      "addDays(toDate('2021-03-01'), number % 40) FROM numbers(200)")
    check("INSERT SELECT", 4)
    g.sql("OPTIMIZE TABLE ffs.modes FINAL")
    check("OPTIMIZE FINAL", 4)
    assert(g.sql("SELECT count() FROM ffs.modes").collect()(0).getLong(0) === 202L)
    val db = Paths.get(spark.sessionState.catalog.getDatabaseMetadata("ffs").locationUri)
    assert(mode(db) === dirMode)
  }

  test("a non-default umask applies to files, .crc sidecars and every " +
    "directory level made") {
    val conf = hconf
    conf.set("fs.permissions.umask-mode", "027")
    val fs = FileSystem.newInstance(new java.net.URI("file:///"), conf)
    val root = Files.createTempDirectory("ffs-umask")
    try {
      assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
      val leaf = new Path(root.toUri.toString, "a/b/c")
      assert(fs.mkdirs(leaf))
      Seq("a", "a/b", "a/b/c").foreach(d => assert(mode(root.resolve(d)) === "rwxr-x---", d))
      val f = new Path(leaf, "f.bin")
      val out = fs.create(f)
      out.write(Array[Byte](1, 2, 3)); out.close()
      val local = root.resolve("a/b/c/f.bin")
      assert(mode(local) === "rw-r-----")
      assert(mode(crcOf(local)) === "rw-r-----")
    } finally {
      fs.delete(new Path(root.toUri.toString), true)
      fs.close()
    }
  }

  test("a flipped byte in the parts fails the read with a checksum error") {
    g.sql("CREATE TABLE ffs.crc (k Int64) ENGINE = MergeTree ORDER BY k")
    g.sql("INSERT INTO ffs.crc SELECT number FROM numbers(5000)")
    assert(g.sql("SELECT sum(k) FROM ffs.crc").collect()(0).getLong(0) === 12497500L)
    val ps = parts(tableDir("crc"))
    assert(ps.nonEmpty)
    ps.foreach { part =>
      val raf = new java.io.RandomAccessFile(part.toFile, "rw")
      try { raf.seek(8); val b = raf.read(); raf.seek(8); raf.write(b ^ 0x01) }
      finally raf.close()
    }
    val e = intercept[Exception](g.sql("SELECT sum(k) FROM ffs.crc").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]),
      chain.mkString("\n"))
    g.sql("DROP TABLE ffs.crc")
  }

  test("a sticky-bit setPermission takes Hadoop's own path and still applies") {
    val fs = FileSystem.getLocal(hconf)
    val dir = Files.createTempDirectory("ffs-sticky")
    try {
      val p = new Path(dir.toUri.toString)
      fs.setPermission(p, new FsPermission(Integer.parseInt("1750", 8).toShort))
      // only chmod can set the sticky bit: a nine-bit set would leave 0750
      val m = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff
      assert(Integer.toOctalString(m) === "1750")
      assert(fs.getFileStatus(p).getPermission.getStickyBit)
    } finally Files.delete(dir)
  }
}
