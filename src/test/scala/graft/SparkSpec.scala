package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — sbt
  * forks a single test JVM). */
object TestSpark {
  private val tempDirs = new ConcurrentLinkedQueue[File]()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  sys.addShutdownHook(tempDirs.forEach(d => deleteTree(d)))

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it when the test JVM exits. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf001 = "/root/testdata/sf0.001"
  def tempDir(prefix: String): Path = TestSpark.tempDir(prefix)
}
