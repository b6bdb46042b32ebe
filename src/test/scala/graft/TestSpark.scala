package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared local session for the suite (one JVM for all ScalaTest specs —
  * Test/fork is on, so this never collides with a user session).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.SessionTuning.local(4).appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** sf0.001 driver testdata — tiny, read-only. */
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(sub: String): String = {
    val d = java.nio.file.Paths.get(s"${sys.props("user.dir")}/target/testtmp/$sub")
    if (java.nio.file.Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  def strings1(vals: Seq[String], name: String = "v"): DataFrame = {
    val s = spark
    import s.implicits._
    vals.toDF(name)
  }
}
