package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Confs

class CleanseSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Option[String] =
    Seq(input).toDF("s").select(c.cast("string")).as[String].collect().headOption.flatMap(Option(_))

  test("parsePrice handles '$1,234.00' and nulls on garbage (design.sql:228)") {
    assert(one(Cleanse.parsePrice(col("s")), "$1,234.00").contains("1234.00"))
    assert(one(Cleanse.parsePrice(col("s")), "$85.00").contains("85.00"))
    assert(one(Cleanse.parsePrice(col("s")), "no price").isEmpty)
  }

  test("splitPart with negative index takes last part (design.sql:451)") {
    assert(one(Cleanse.splitPart(col("s"), ",", -1), "a,b,c").contains("c"))
    assert(one(Cleanse.splitPart(col("s"), ",", 1), "a,b,c").contains("a"))
  }

  test("normSuburb strips COUNCIL/CITY OF and maps SAINT->ST (design.sql:451-453)") {
    assert(one(Cleanse.normSuburb(col("s")), "Sydney Council").contains("SYDNEY"))
    assert(one(Cleanse.normSuburb(col("s")), "city of Ryde").contains("RYDE"))
    assert(one(Cleanse.normSuburb(col("s")), "Saint Peters").contains("ST PETERS"))
  }

  test("normNulls maps all reference NULL spellings to null (design.sql:38-44)") {
    for (v <- Seq("\\N", "NULL", "NUL", "")) {
      assert(one(Cleanse.normNulls(col("s")), v).isEmpty, s"expected null for '$v'")
    }
    assert(one(Cleanse.normNulls(col("s")), "x").contains("x"))
  }

  test("normNulls kernel equals the CASE ... IN form, compiled and interpreted") {
    val inputs = Seq("\\N", "NULL", "NUL", "", null,
      "null", " NULL", "\n", "NULLS", "NU", "\\", "\\NULL", "x", "Sydney 悉尼")
    // repartition: keep the projection out of the optimizer's local
    // evaluation, so it runs in the mode under test
    val df = inputs.toDF("s").repartition(1)
    val caseIn = when(col("s").isin("\\N", "NULL", "NUL", ""), lit(null))
      .otherwise(col("s"))
    def both(): Seq[(String, String)] =
      df.select(Cleanse.normNulls(col("s")), caseIn).as[(String, String)].collect().toSeq
    val compiled = Confs.withConf(spark, "spark.sql.codegen.factoryMode", "CODEGEN_ONLY")(both())
    val interpreted = Confs.withConf(spark, "spark.sql.codegen.factoryMode", "NO_CODEGEN") {
      Confs.withConf(spark, "spark.sql.codegen.wholeStage", "false")(both())
    }
    for (rows <- Seq(compiled, interpreted)) {
      assert(rows.length == inputs.length)
      rows.foreach { case (kernel, reference) => assert(kernel == reference) }
      assert(rows.count(_._1 == null) == 5) // the four spellings and null
    }
  }

  test("literalMap applies first matching key, default otherwise") {
    val m = Seq("A" -> "1", "B" -> "2")
    assert(one(Cleanse.literalMap(col("s"), m, lit("other")), "B").contains("2"))
    assert(one(Cleanse.literalMap(col("s"), m, lit("other")), "Z").contains("other"))
  }

  test("withinMonthOf bounds are inclusive (design.sql:543)") {
    val df = Seq(("2020-06-01", "2020-06-01"), ("2020-06-30", "2020-06-01"),
      ("2020-07-01", "2020-06-01"), ("2020-05-31", "2020-06-01"))
      .toDF("d", "fd")
      .select(col("d").cast("date").as("d"), col("fd").cast("date").as("fd"))
    val got = df.filter(Cleanse.withinMonthOf(col("d"), col("fd")))
      .select(col("d").cast("string")).as[String].collect().toSet
    assert(got == Set("2020-06-01", "2020-06-30"))
  }
}
