package graft.functions

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Confs

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL surface: graft_* functions usable from spark.sql after register") {
    GraftFunctions.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("fn_docs")
    val row = spark.sql(
      """SELECT
           size(graft_md5_minhash_sig(split(text, ' '), 16)) AS sig_len,
           graft_md5_simhash60(split(text, ' ')) AS sim,
           size(graft_winnow_roll(text, 8, 4)) AS n_fp,
           graft_word_shingles(split(text, ' '), 3) AS sh,
           graft_sorted_intersect_count(sort_array(array('a','b')), sort_array(array('b','c'))) AS ic,
           graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dp
         FROM fn_docs""").head()
    assert(row.getAs[Int]("sig_len") == 16)
    assert(row.getAs[Long]("sim") != 0L)
    assert(row.getAs[Int]("n_fp") > 0)
    assert(row.getAs[scala.collection.Seq[String]]("sh").contains("quick brown fox"))
    assert(row.getAs[Int]("ic") == 1)
    assert(row.getAs[Double]("dp") == 32.0)
    // exactly the 10 registered scalar kernels and the 2 aggregates
    assert(GraftFunctions.registrations.map(_._1.funcName).sorted == Seq(
      "graft_canonical_url", "graft_dot", "graft_gram_upper_q", "graft_jaro_winkler",
      "graft_md5_minhash_sig", "graft_md5_simhash60", "graft_quantize_int8",
      "graft_sorted_intersect_count", "graft_sum_long_array", "graft_topk_by",
      "graft_winnow_roll", "graft_word_shingles"))
  }

  test("graft_dot is bit-identical to the higher-order aggregate fold") {
    val df = Seq((Seq(0.1, -2.3, 7.77, 0.003), Seq(9.9, 0.27, -3.14, 1.0)))
      .toDF("a", "b")
    val r = df.select(
      GraftFunctions.dot(col("a"), col("b")).as("k"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("hof")).head()
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0))
      == java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
  }

  test("graft_dot rejects mismatched array lengths with a clear error") {
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(1.0D))").collect()
    }
    assert(ex.getMessage.contains("array lengths differ") ||
      Option(ex.getCause).exists(_.getMessage.contains("array lengths differ")),
      s"wrong error: ${ex.getMessage}")
  }

  test("wrong arity on a graft_* SQL function names the expected signature, not a MatchError") {
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_md5_minhash_sig(array('a'))").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("graft_md5_minhash_sig expects (arr, numHashes)")),
      s"wrong error: ${messages(ex).mkString(" | ")}")
  }

  test("expressions survive codegen and interpreted paths identically") {
    val df = Seq((1L, "alpha beta gamma delta epsilon")).toDF("id", "text")
    val toks = split(col("text"), " ")
    val viaExpr = df.select(
      GraftFunctions.md5MinhashSig(toks, 8).as("sig"),
      GraftFunctions.md5Simhash60(toks).as("sim")).head()
    // same kernel, forced interpreted (no codegen)
    val interp = Confs.withConf(spark, "spark.sql.codegen.wholeStage", "false") {
      df.select(
        GraftFunctions.md5MinhashSig(toks, 8).as("sig"),
        GraftFunctions.md5Simhash60(toks).as("sim")).head()
    }
    assert(viaExpr.getAs[scala.collection.Seq[Long]]("sig") == interp.getAs[scala.collection.Seq[Long]]("sig"))
    assert(viaExpr.getAs[Long]("sim") == interp.getAs[Long]("sim"))

    // every scalar kernel, over rows with a null input and inputs the
    // null-returning kernels map to null; the repartition keeps the
    // projection out of the optimizer's interpreted LocalRelation fold
    val rows = Seq(
      (Option("alpha beta gamma delta epsilon"), Option("HTTP://www.Example.com/a/./b/?utm_source=x#f"),
        Option(7L), Option(Seq(0.1, -2.3, 7.77)), Option(Seq(0.5f, -1.25f, 2.0f))),
      (None, None, None, None, None),
      (Option("NULL"), Option("no scheme here"), Option(-3L), Option(Seq(1.0)), Option(Seq(3.0f))),
      (Option("\n"), Option(""), Option(0L), Option(Seq.empty[Double]), Option(Seq.empty[Float])))
    val kdf = rows.toDF("text", "url", "v", "d", "f").repartition(1)
    val words = split(col("text"), " ")
    val sorted = sort_array(array_distinct(words))
    val kernels = Seq(
      GraftFunctions.md5MinhashSig(words, 8), GraftFunctions.md5Simhash60(words),
      GraftFunctions.md5Low56(col("text")), GraftFunctions.winnowRoll(col("text"), 3, 2),
      GraftFunctions.wordShingles(words, 2), GraftFunctions.gramUpperQ(col("f")),
      GraftFunctions.dot(col("d"), col("d")), GraftFunctions.quantizeInt8(col("f")),
      GraftFunctions.sortedIntersectCount(sorted, sort_array(split(col("url"), "/"))),
      GraftFunctions.jaroWinkler(col("text"), col("url")), GraftFunctions.posGramMd5(words, 2),
      GraftFunctions.bootstrapRow(col("text"), col("v"), 4), GraftFunctions.canonicalUrl(col("url")),
      GraftFunctions.nullIfSpelling(col("text")), GraftFunctions.charEntropyStats(col("text")))
    def run(): (Seq[org.apache.spark.sql.Row], Int) = {
      val q = kdf.select(kernels.zipWithIndex.map { case (k, i) => k.as(s"k$i") }: _*)
      val out = q.collect().toSeq
      (out, new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w }.size)
    }
    val (compiled, compiledStages) =
      Confs.withConf(spark, "spark.sql.codegen.factoryMode", "CODEGEN_ONLY")(run())
    val (interpreted, interpretedStages) =
      Confs.withConf(spark, "spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        Confs.withConf(spark, "spark.sql.codegen.wholeStage", "false")(run())
      }
    assert(compiledStages > 0, "the compiled run must go through whole-stage codegen")
    assert(interpretedStages == 0, "the interpreted run must not")
    assert(compiled == interpreted)
    val nullRow = compiled(1)
    assert((0 until kernels.size).forall(nullRow.isNullAt), s"null input must give null: $nullRow")
    // the kernels that can return null do so for a non-null input
    assert(compiled(2).isNullAt(12) && compiled(2).isNullAt(13) && compiled(3).isNullAt(14))
    assert(!compiled(0).isNullAt(12) && !compiled(0).isNullAt(13) && !compiled(0).isNullAt(14))
  }

  test("type checking rejects wrong inputs") {
    val df = Seq((1L, "x")).toDF("id", "text")
    val ex = intercept[Exception] {
      df.select(GraftFunctions.md5Simhash60(col("id"))).head()
    }
    assert(ex.getMessage.toLowerCase.contains("array") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"))
    // one wrong input per argument family, each rejected at analysis
    // with the function named
    val typed = Seq((1L, "x", Seq(1.0), Seq(1.0f), 2)).toDF("id", "text", "d", "f", "i")
    Seq(
      "graft_winnow_roll" -> (() => GraftFunctions.winnowRoll(col("id"), 8, 4)),  // string
      "graft_word_shingles" -> (() => GraftFunctions.wordShingles(col("d"), 2)),  // array<string>
      "graft_dot" -> (() => GraftFunctions.dot(col("f"), col("f"))),              // array<double>
      "graft_quantize_int8" -> (() => GraftFunctions.quantizeInt8(col("d"))),     // array<float>
      "graft_bootstrap_row" -> (() => GraftFunctions.bootstrapRow(col("text"), col("i"), 4)) // (string, bigint)
    ).foreach { case (name, c) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](typed.select(c()))
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
    // an untyped NULL literal stays accepted where it was
    val nulls = typed.select(GraftFunctions.jaroWinkler(lit(null), col("text")),
      GraftFunctions.bootstrapRow(lit(null), lit(null), 2), GraftFunctions.canonicalUrl(lit(null)),
      GraftFunctions.charEntropyStats(lit(null))).head()
    assert((0 until 4).forall(nulls.isNullAt))
  }

  test("quantize_int8: range, sign, max element hits ±127, dequant error bounded") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f)),          // all-zero -> zeros, no div-by-zero
      (3L, Seq(3.0f))                  // single element -> ±127 exactly
    ).toDF("id", "v")
    val out = df.select(col("id"), GraftFunctions.quantizeInt8(col("v")).as("q"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(1L) == Seq(64, -127, 32, 0)) // floor(0.5*127+0.5)=64
    assert(out(2L) == Seq(0, 0))
    assert(out(3L) == Seq(127))
    // dequantization error <= half a quantization step, on real vectors
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("embedding").isNotNull).limit(100)
    val err = emb.select(col("embedding").as("e"),
        GraftFunctions.quantizeInt8(col("embedding")).as("q"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("m"))
      .select(greatest(lit(0.0), array_max(zip_with(col("e"), col("q"),
        (x, q) => abs(x.cast("double") - q * col("m") / 127.0)))).as("maxerr"),
        (col("m") / 254.0 + lit(1e-12)).as("halfstep"))
    assert(err.filter(col("maxerr") > col("halfstep")).count() == 0)
  }

  test("graft_quantize_int8 is callable from SQL") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT graft_quantize_int8(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS q")
      .as[Seq[Int]].head()
    assert(got == Seq(127, -63)) // floor(-0.5*127+0.5) = floor(-63) = -63
  }

  test("sorted_intersect_count matches array_intersect size on sorted-distinct arrays") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq[String](), Seq("x")),
      (Seq("m"), Seq("m"))
    ).toDF("a", "b")
    val got = df.select(
      GraftFunctions.sortedIntersectCount(col("a"), col("b")).as("k"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("jaro_winkler matches DuckDB's jaro_winkler_similarity on pinned cases") {
    // expected values computed by DuckDB's jaro_winkler_similarity —
    // including its byte-level (not codepoint) window ('café'/'cafe'),
    // its either-empty → 0.0 edge (INCLUDING both-empty, where the
    // textbook says 1.0), the window=0 degenerate ('ab'/'ba' → 0), and
    // a below-boost-threshold case where no prefix bonus applies
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("café", "cafe", 0.8483333333333334),
      ("ab", "ba", 0.0),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("crzy", "fuzzy", 0.6333333333333333))
    val got = cases.toDF("a", "b", "want")
      .select(GraftFunctions.jaroWinkler(col("a"), col("b")).as("got"), col("want"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"got ${r.getDouble(0)}, want ${r.getDouble(1)}")
    }
  }

  test("jaro_winkler: symmetric, bounded, null-safe, SQL-callable") {
    GraftFunctions.register(spark)
    val pairs = Seq(("alpha beta", "alpha bta"), ("x", "yz"), ("same", "same"))
    pairs.toDF("a", "b")
      .select(GraftFunctions.jaroWinkler(col("a"), col("b")).as("ab"),
        GraftFunctions.jaroWinkler(col("b"), col("a")).as("ba"))
      .collect().foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1), "must be symmetric")
        assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      }
    val viaSql = spark.sql("SELECT graft_jaro_winkler('martha', 'marhta') AS s").head()
    assert(math.abs(viaSql.getDouble(0) - 0.9611111111111111) < 1e-12)
    val nullRow = spark.sql("SELECT graft_jaro_winkler(NULL, 'x') AS s").head()
    assert(nullRow.isNullAt(0))
  }

  test("topKBy: hand case — k largest scores, ties to smaller key, sorted out") {
    val rows = Seq((1L, 5.0), (2L, 9.0), (3L, 5.0), (4L, 1.0), (5L, 9.0))
      .toDF("k", "s")
    val out = rows.agg(GraftFunctions.topKBy(col("s"), col("k"), 3).as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.score"), col("e.key")).as[(Double, Long)].collect().toSeq
    // 9.0@2, 9.0@5 (tie: smaller key first), then 5.0@1 (5.0@3 evicted)
    assert(out == Seq((9.0, 2L), (9.0, 5L), (5.0, 1L)), out.toString)
  }

  test("topKBy matches the window formulation per group on real data") {
    val o = graft.core.Tables.orders(spark, sf001)
      .select(col("o_orderpriority").as("g"),
        col("o_totalprice").cast("double").as("s"), col("o_orderkey").as("k"))
    val viaAgg = o.groupBy(col("g"))
      .agg(GraftFunctions.topKBy(col("s"), col("k"), 4).as("t"))
      .select(col("g"), explode(col("t")).as("e"))
      .select(col("g"), col("e.key")).as[(String, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("k"))
    val viaWin = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4).select(col("g"), col("k"))
      .as[(String, Long)].collect().toSet
    assert(viaAgg == viaWin)
  }

  test("topKBy is partitioning-independent (merge path exercised) and null-safe") {
    val rows = (1L to 500L).map(i => (i, (i * 37 % 101).toDouble))
    val base = rows.toDF("k", "s")
      .union(Seq((501L, Double.box(null.asInstanceOf[Double])))
        .toDF("k", "s").withColumn("s", lit(null).cast("double")))
    val a = base.agg(GraftFunctions.topKBy(col("s"), col("k"), 7)).head().getSeq[Any](0)
    val b = base.repartition(17)
      .agg(GraftFunctions.topKBy(col("s"), col("k"), 7)).head().getSeq[Any](0)
    assert(a == b, "top-k must not depend on partitioning")
    assert(a.size == 7)
  }

  test("topKBy with fewer rows than k returns all, SQL surface works") {
    GraftFunctions.register(spark)
    val out = spark.sql(
      """SELECT graft_topk_by(CAST(v AS DOUBLE), id, 10) AS t
         FROM VALUES (1L, 3), (2L, 1) AS t(id, v)""").head().getSeq[Any](0)
    assert(out.size == 2)
  }

  test("gramUpperQ matches a naive per-pair computation") {
    val vec = Array(0.5f, -1.25f, 2.0f)
    val got = Seq(Tuple1(vec)).toDF("v")
      .select(GraftFunctions.gramUpperQ(col("v"))).head().getSeq[Long](0)
    val d = vec.length
    val want = for { i <- 0 until d; j <- i until d } yield
      math.floor(vec(i).toDouble * vec(j).toDouble * 1e6).toLong
    assert(got == want)
    assert(got.size == d * (d + 1) / 2)
  }

  test("sumLongArray is exact and partitioning-independent; nulls skipped") {
    val rows = (1L to 300L).map(i => Array(i, -i * 2, i % 7))
    val df = rows.toDF("a")
      .union(Seq(Tuple1(null.asInstanceOf[Array[Long]])).toDF("a"))
    val a = df.agg(GraftFunctions.sumLongArray(col("a"))).head().getSeq[Long](0)
    val b = df.repartition(13)
      .agg(GraftFunctions.sumLongArray(col("a"))).head().getSeq[Long](0)
    val n = 300L
    val want = Seq(n * (n + 1) / 2, -n * (n + 1), rows.map(_(2)).sum)
    assert(a == want)
    assert(b == want)
  }

  test("sumLongArray rejects ragged lengths; empty input yields empty array") {
    val ragged = Seq(Array(1L, 2L), Array(1L, 2L, 3L)).toDF("a")
    val e = intercept[org.apache.spark.SparkException] {
      ragged.agg(GraftFunctions.sumLongArray(col("a"))).head()
    }
    assert(e.getMessage != null)
    val empty = Seq.empty[Tuple1[Array[Long]]].toDF("a")
      .agg(GraftFunctions.sumLongArray(col("a"))).head().getSeq[Long](0)
    assert(empty.isEmpty)
  }
}
