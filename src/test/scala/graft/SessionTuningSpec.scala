package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{PosixLocalFileSystem, SessionTuning, SnapshotStore}

/** Every entry point builds its session through SessionTuning.local, so
  * the shared confs are asserted once here — a new entry point cannot
  * drift from them (Shell once ran without the UTC session zone).
  */
class SessionTuningSpec extends AnyFunSuite {

  test("local(n) carries the shared confs, with n shuffle partitions") {
    // a fresh session over the suite's shared context; the suite's own
    // session stays active and default for the other specs
    val base = TestSpark.spark
    val s = try SessionTuning.local(3).create()
      finally {
        SparkSession.setActiveSession(base)
        SparkSession.setDefaultSession(base)
      }
    val conf = s.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
    assert(conf.get("spark.sql.shuffle.partitions") == "3")
    assert(conf.get("spark.sql.unionOutputPartitioning") == "false")
    assert(base.conf.get("spark.sql.shuffle.partitions") == "4",
      "building another session must not retune the shared one")
  }

  /** (is a directory, mode) of every entry under `root`, with counts. */
  private def modes(root: String): Map[(Boolean, String), Int] = {
    val all = Files.walk(Paths.get(root)).iterator().asScala.toSeq
    all.map((p: Path) => (Files.isDirectory(p),
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  test("local files get their modes in process, the modes a forked chmod gave") {
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[PosixLocalFileSystem])
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    // the same calls through both: default and explicit modes
    def make(f: FileSystem, root: String): Map[(Boolean, String), Int] = {
      val r = new org.apache.hadoop.fs.Path(root)
      f.mkdirs(new org.apache.hadoop.fs.Path(r, "a/b"))
      f.mkdirs(new org.apache.hadoop.fs.Path(r, "c"), new FsPermission("750"))
      f.create(new org.apache.hadoop.fs.Path(r, "a/f")).close()
      f.create(new org.apache.hadoop.fs.Path(r, "c/g"), new FsPermission("640"), true,
        4096, 1.toShort, 1L << 20, null).close()
      modes(root)
    }
    assert(make(fs, TestSpark.tmpDir("fsmode_posix")) == make(stock, TestSpark.tmpDir("fsmode_stock")))

    // a snapshot write, through the session's FileSystem and through the stock one
    def written(root: String): Map[(Boolean, String), Int] = {
      val s = TestSpark.spark
      import s.implicits._
      new SnapshotStore(s, root).write((0 until 20).map(i => (i, s"v$i")).toDF("k", "v"),
        "m", hashlabel = Some("k"))
      modes(root)
    }
    val posix = written(TestSpark.tmpDir("fsmode_snap_posix"))
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val forked = try written(TestSpark.tmpDir("fsmode_snap_stock"))
      finally {
        conf.set("fs.file.impl", classOf[PosixLocalFileSystem].getName)
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(posix == forked)
  }
}
