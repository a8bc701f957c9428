package graft.core

import java.io.File
import java.nio.file.Files

import graft.SparkSpec

class LandingSpec extends SparkSpec {

  test("memo builds once per key in one session") {
    var builds = 0
    def get(key: String) = Landing.memo(spark, key) { builds += 1; s"v$builds" }
    assert(get("landing_spec:a") == "v1")
    assert(get("landing_spec:a") == "v1")
    assert(get("landing_spec:b") == "v2")
    assert(builds == 2)
  }

  test("memo from another session rebuilds the value and replaces it") {
    val other = spark.newSession()
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession) =
      Landing.memo(s, "landing_spec:owner") { builds += 1; s"v$builds" }
    assert(get(spark) == "v1")
    assert(get(other) == "v2")
    assert(get(other) == "v2")
    // the entry now belongs to `other`: the first session rebuilds
    assert(get(spark) == "v3")
    assert(builds == 3)
  }

  test("dir writes once and returns the existing directory") {
    var writes = 0
    def land() = Landing.dir(spark, "landing_spec_dataset", "graft_spec") { p =>
      writes += 1
      Files.writeString(new File(p, "part").toPath, "x")
    }
    val first = land()
    val again = land()
    assert(first == again && writes == 1)
    val f = new File(first)
    assert(f.isDirectory && f.getName.startsWith("graft_spec"))
    assert(f.getParentFile.getName == "graft_landing")
    assert(new File(f, "part").isFile)
  }

  test("the sweep deletes only children older than 24 h") {
    val parent = tempDir("landing_sweep").toFile
    val outside = tempDir("landing_sweep_outside").toFile
    val now = System.currentTimeMillis()
    def child(p: File, name: String, ageHours: Int): File = {
      val c = new File(p, name)
      c.mkdirs()
      Files.writeString(new File(c, "f").toPath, "x")
      assert(c.setLastModified(now - ageHours * 3600L * 1000))
      c
    }
    val stale = child(parent, "stale", 25)
    val fresh = child(parent, "fresh", 23)
    val beyond = child(outside, "beyond", 48)
    Landing.sweepStale(parent, now)
    assert(!stale.exists(), "a child older than 24 h is swept")
    assert(fresh.isDirectory, "a child younger than 24 h stays")
    assert(beyond.isDirectory, "nothing outside the parent is touched")
  }
}
