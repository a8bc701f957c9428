package graft.core

import graft.SparkSpec

class ConfsSpec extends SparkSpec {
  // unregistered keys: a registered SQL conf always reads back its
  // default, so only these can show "no prior value"
  private val key = "graft.test.confs.key"
  private val other = "graft.test.confs.other"

  test("withConf restores an explicitly set prior value") {
    spark.conf.set(key, "before")
    try {
      val seen = Confs.withConf(spark, key, "inside")(spark.conf.get(key))
      assert(seen == "inside")
      assert(spark.conf.get(key) == "before")
    } finally spark.conf.unset(key)
  }

  test("withConf unsets a key that had no prior value") {
    assert(spark.conf.getOption(key).isEmpty)
    Confs.withConf(spark, key, "inside") {
      assert(spark.conf.getOption(key).contains("inside"))
    }
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("withConf restores when the body throws") {
    spark.conf.set(key, "before")
    try {
      val e = intercept[IllegalStateException] {
        Confs.withConf(spark, key, "inside") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.get(key) == "before")
    } finally spark.conf.unset(key)
  }

  test("withConf unwinds nested scopes in order") {
    val seen = Confs.withConf(spark, key, "outer") {
      val inner = Confs.withConf(spark, key, "inner") {
        Confs.withConf(spark, other, "x") {
          (spark.conf.get(key), spark.conf.get(other))
        }
      }
      (inner, spark.conf.get(key), spark.conf.getOption(other))
    }
    assert(seen == ((("inner", "x"), "outer", None)))
    assert(spark.conf.getOption(key).isEmpty)
    assert(spark.conf.getOption(other).isEmpty)
  }
}
