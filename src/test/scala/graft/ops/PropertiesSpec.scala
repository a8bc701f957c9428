package graft.ops

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll

import graft.SparkSpec
import graft.functions.Kernels

/** Property-based tests (SURVEY §5.3). Kernel properties run pure-JVM on
  * ArrayData (no Spark jobs — thousands of cases are cheap); DataFrame
  * laws use small fixed datasets in the shared session.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private def arr(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  private val tokenGen = Gen.listOf(Gen.oneOf(
    "alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"))

  test("sortedIntersectCount == |A ∩ B| for sorted-distinct arrays") {
    check(forAll(tokenGen, tokenGen) { (a, b) =>
      val sa = a.distinct.sorted
      val sb = b.distinct.sorted
      Kernels.sortedIntersectCount(arr(sa), arr(sb)) == (sa.toSet & sb.toSet).size
    })
  }

  test("minhash signature: permutation-invariant, self-similarity 1, length n") {
    check(forAll(tokenGen, Gen.choose(1, 64)) { (toks, n) =>
      val s1 = Kernels.md5MinhashSig(arr(toks), n).toLongArray()
      val s2 = Kernels.md5MinhashSig(arr(scala.util.Random.shuffle(toks)), n).toLongArray()
      s1.length == n && s1.sameElements(s2)
    })
  }

  test("simhash: permutation-invariant; equal multisets collide") {
    check(forAll(tokenGen) { toks =>
      Kernels.md5Simhash60(arr(toks)) ==
        Kernels.md5Simhash60(arr(scala.util.Random.shuffle(toks)))
    })
  }

  test("winnow: deterministic, non-empty, and duplicates-free") {
    val textGen = Gen.alphaLowerStr.suchThat(_.nonEmpty)
    check(forAll(textGen) { t =>
      val u = UTF8String.fromString(t)
      val f1 = Kernels.winnowRoll(u, 4, 3).toLongArray()
      val f2 = Kernels.winnowRoll(u, 4, 3).toLongArray()
      f1.sameElements(f2) && f1.nonEmpty && f1.length == f1.distinct.length
    })
  }

  test("wordShingles: sorted-distinct output; |shingles| <= max(0, n_toks - 2)") {
    check(forAll(tokenGen) { toks =>
      val out = Kernels.wordShingles(arr(toks), 3).toArray[UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString)
      val sorted = out.sorted.sameElements(out)
      val distinct = out.length == out.distinct.length
      sorted && distinct && out.length <= math.max(0, toks.length - 2)
    })
  }

  test("dedup idempotence + unique keys (DataFrame law)") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 1), ("c", 9)).toDF("k", "v")
    val once = Qualify.dedup(df, Seq(col("k")), Seq(col("v")))
    val twice = Qualify.dedup(once, Seq(col("k")), Seq(col("v")))
    assert(once.count() == once.select("k").distinct().count())
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("fullOuterOfAggs key coverage = union of input key sets (DataFrame law)") {
    val a = Seq(("x", 1L), ("y", 2L)).toDF("k", "ca")
    val b = Seq(("y", 3L), ("z", 4L)).toDF("k", "cb")
    val c = Seq(("w", 5L)).toDF("k", "cc")
    val out = Kpis.fullOuterOfAggs(Seq("k"), Seq(a, b, c))
    assert(out.select("k").as[String].collect().toSet == Set("x", "y", "z", "w"))
  }

  test("collapseExact laws: copies partition the input, idempotent, min-id rep (DataFrame law)") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "a"), (5L, "A "), (3L, "a"), (2L, "b"), (9L, " B"))
      .toDF("doc_id", "text")
    val once = Dedup.collapseExact(df, col("doc_id"), col("text"))
    // n_copies partitions the input rows
    assert(once.agg(org.apache.spark.sql.functions.sum("n_copies"))
      .head().getLong(0) == df.count())
    // representative is the min id of its group ("a"/"A " normalize equal)
    val reps = once.select("doc_id").as[Long].collect().toSet
    assert(reps == Set(1L, 2L))
    // idempotent: collapsing representatives changes nothing but n_copies=1
    val twice = Dedup.collapseExact(once.drop("n_copies"), col("doc_id"), col("text"))
    assert(twice.select("doc_id", "text").collect().toSet
      == once.select("doc_id", "text").collect().toSet)
    assert(twice.select("n_copies").as[Long].collect().forall(_ == 1L))
  }

  test("gramNovelty laws: bounded, exact copies score 0, shared+novel = total (DataFrame law)") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "alpha beta gamma delta eps zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta eps zeta eta theta iota kappa"), // copy of 1
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = Dedup.gramNovelty(df, col("doc_id"), col("text"), gram = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // exact copies: every gram shared -> novelty 0; unique doc -> 1
    assert(out(1L)._3 == 0.0 && out(2L)._3 == 0.0 && out(3L)._3 == 1.0)
    // bounds + consistency: 0 <= shared <= total and frac = 1 - shared/total
    out.values.foreach { case (n, sh, f) =>
      assert(sh >= 0 && sh <= n && math.abs(f - (1.0 - sh.toDouble / n)) == 0.0)
    }
  }

  test("dupPassages symmetry: doc id relabeling permutes ids, not passage stats (DataFrame law)") {
    import org.apache.spark.sql.functions.col
    val block = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, s"one two three four five six $block seven eight nine ten eleven"),
      (2L, s"uno dos tres cuatro cinco seis $block siete ocho nueve diez once"))
      .toDF("doc_id", "text")
    // relabel 1->20, 2->10 (REVERSES the pair order)
    val relabeled = df.withColumn("doc_id",
      org.apache.spark.sql.functions.when(col("doc_id") === 1L, 20L).otherwise(10L))
    def stats(d: org.apache.spark.sql.DataFrame) =
      Dedup.dupPassages(d, col("doc_id"), col("text"), gram = 8, minRun = 3, maxOcc = 16)
        .select("n_passages", "max_run_grams", "max_span_tokens", "dup_grams")
        .collect().map(_.toSeq).toSeq
    assert(stats(df) == stats(relabeled))
  }

  test("skyline law: SkylineExec equals brute-force dominance on random point sets") {
    // randomized but deterministic (fixed seed): 30 draws of up to 60
    // points in a small integer grid (dense ties — the hard case),
    // each compared against the quadratic reference definition
    val rnd = new scala.util.Random(42)
    (1 to 30).foreach { trial =>
      val n = 1 + rnd.nextInt(60)
      val pts = (1 to n).map(i =>
        (i.toLong, rnd.nextInt(8).toDouble, rnd.nextInt(8).toDouble))
      val expect = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, bx, by) =>
          bx >= x && by >= y && (bx > x || by > y) }
      }.map(_._1).toSet
      val got = graft.plans.Skyline.of(
          pts.toDF("id", "x", "y").repartition(1 + rnd.nextInt(7)),
          Seq("x", "y"))
        .select($"id").as[Long].collect().toSet
      assert(got == expect, s"trial $trial: got $got want $expect on $pts")
    }
  }

  test("topKBy law: equals sort-take on random scored sets, any partitioning") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { trial =>
      val n = 1 + rnd.nextInt(80)
      val k = 1 + rnd.nextInt(10)
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(12).toDouble))
      val expect = rows.sortBy { case (id, s) => (-s, id) }.take(k)
        .map { case (id, s) => (s, id) }
      val got = rows.toDF("k", "s").repartition(1 + rnd.nextInt(5))
        .agg(graft.functions.GraftFunctions.topKBy($"s", $"k", k).as("t"))
        .select(org.apache.spark.sql.functions.explode($"t").as("e"))
        .select($"e.score", $"e.key").as[(Double, Long)].collect().toSeq
      assert(got == expect, s"trial $trial (n=$n k=$k): $got vs $expect")
    }
  }
}
