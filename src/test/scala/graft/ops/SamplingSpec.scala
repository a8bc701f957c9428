package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (1L to 2000L).toDF("k")

  test("hashValue: 56-bit non-negative, stable, spread") {
    val vals = keys.select(Sampling.hashValue($"k").as("h"))
    val (mn, mx) = vals.agg(min("h"), max("h")).as[(Long, Long)].head()
    assert(mn >= 0L && mx < (1L << 56))
    // deterministic: recomputation yields identical assignment
    val again = keys.select(Sampling.hashValue($"k").as("h"))
    assert(vals.exceptAll(again).isEmpty)
    // actually spreads: 2000 keys -> ~2000 distinct hashes
    assert(vals.distinct().count() == 2000)
  }

  test("splitLabel: total partition, stable under repartition, duplicate keys co-assigned") {
    val splits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val labeled = keys.select($"k", Sampling.splitLabel($"k", splits).as("s"))
    assert(labeled.filter($"s".isNull).count() == 0)
    val counts = labeled.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // ~80/10/10 at n=2000 (hash-uniform; generous tolerance)
    assert(counts("train") > 1450 && counts("train") < 1750, counts.toString)
    assert(counts("val") > 100 && counts("test") > 100, counts.toString)
    // layout-independence: a different partitioning assigns identically
    val relabeled = keys.repartition(7)
      .select($"k", Sampling.splitLabel($"k", splits).as("s"))
    assert(labeled.exceptAll(relabeled).isEmpty)
    // duplicate keys always land together (no train/test leakage)
    val dup = keys.union(keys)
      .select($"k", Sampling.splitLabel($"k", splits).as("s"))
      .groupBy("k").agg(countDistinct("s").as("n"))
    assert(dup.filter($"n" =!= 1).count() == 0)
  }

  test("splitLabel/splitLabelSql reject percents not summing to 100") {
    intercept[IllegalArgumentException] {
      Sampling.splitLabel(lit(1L), Seq("a" -> 50, "b" -> 40))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitLabelSql("k", Seq("a" -> 50, "b" -> 40))
    }
  }

  test("NULL keys: NULL split label, never sampled (false, not null)") {
    val df = Seq(Some(1L), Some(2L), None).toDF("k")
    val labeled = df.select($"k",
      Sampling.splitLabel($"k", Seq("train" -> 80, "test" -> 20)).as("s"),
      Sampling.hashSamplePredicate($"k", 1000).as("p"))
    assert(labeled.filter($"k".isNull && $"s".isNull).count() == 1)
    assert(labeled.filter($"k".isNotNull && $"s".isNull).count() == 0)
    // predicate is FALSE for null keys — so e.g. NOT predicate keeps them
    assert(labeled.filter($"k".isNull && !$"p").count() == 1)
  }

  test("single-split degenerate case: everything labeled, SQL stays parseable") {
    val df = Seq(1L, 2L).toDF("k")
    val out = df.select(Sampling.splitLabel($"k", Seq("all" -> 100)).as("s"))
      .as[String].collect()
    assert(out.toSeq == Seq("all", "all"))
    val sql = Sampling.splitLabelSql("k", Seq("all" -> 100))
    assert(sql.contains("IS NULL THEN NULL") && sql.contains("ELSE 'all' END"))
  }

  test("splitLabel is an array lookup, not a per-branch when-chain") {
    // CSE does not reach through conditional when-chains (the TextOps
    // staging lesson) — so the label must come from ONE unconditional
    // bucket expression + element_at, where codegen subexpression
    // elimination applies, never from a CASE over per-branch hashes.
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // literal input away and leave no expressions to inspect.
    val plan = spark.range(100).select(Sampling.splitLabel($"id",
      Seq("a" -> 50, "b" -> 30, "c" -> 20)).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("element_at"), s"expected element_at lookup:\n$plan")
    assert(!plan.contains("CASE WHEN"), s"unexpected when-chain:\n$plan")
  }

  test("hashSamplePredicate: 0 keeps nothing, 1000 keeps all, rate ~ permille") {
    assert(keys.filter(Sampling.hashSamplePredicate($"k", 0)).count() == 0)
    assert(keys.filter(Sampling.hashSamplePredicate($"k", 1000)).count() == 2000)
    val n100 = keys.filter(Sampling.hashSamplePredicate($"k", 100)).count()
    assert(n100 > 130 && n100 < 270, s"10% of 2000 ~ 200, got $n100")
    // nested property: a 5% sample is a subset of the 10% sample —
    // the hash-threshold design's headline guarantee
    val s50 = keys.filter(Sampling.hashSamplePredicate($"k", 50))
    val s100 = keys.filter(Sampling.hashSamplePredicate($"k", 100))
    assert(s50.exceptAll(s100).isEmpty)
  }

  test("stratifiedSample: exactly k per big group, all rows of small groups, stable") {
    val df = (1L to 500L).map(k => (k, if (k <= 490) "big" else "small"))
      .toDF("k", "g")
    val out = Sampling.stratifiedSample(df, $"g", $"k", k = 25)
    val counts = out.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(counts == Map("big" -> 25L, "small" -> 10L))
    // deterministic under layout AND subset-stable under growth: the
    // sample from fewer rows per group is NOT required, but identical
    // input must give identical output
    val again = Sampling.stratifiedSample(df.repartition(7), $"g", $"k", k = 25)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // WindowGroupLimit kicks in (heap per partition, not full sort of groups)
    val plan = Sampling.stratifiedSample(
      spark.range(100).select($"id", ($"id" % 3).as("g")), $"g", $"id", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("mixtureSamplePredicate: per-domain rates, default for unknown/NULL domains") {
    val df = (1L to 3000L).map(k => (k, Seq("a", "b", "c")((k % 3).toInt)))
      .toDF("k", "dom")
    val p = Sampling.mixtureSamplePredicate($"k", $"dom",
      Seq("a" -> 0, "b" -> 1000), defaultPermille = 300)
    val kept = df.filter(p).groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("a"))                       // rate 0 drops all
    assert(kept("b") == 1000L)                        // rate 1000 keeps all
    assert(kept("c") > 200 && kept("c") < 400, kept.toString) // default 30%
    // a domain at rate r keeps exactly the flat-r‰ sample's rows
    val viaMixture = df.filter($"dom" === "c").filter(p)
    val viaFlat = df.filter($"dom" === "c")
      .filter(Sampling.hashSamplePredicate($"k", 300))
    assert(viaMixture.exceptAll(viaFlat).isEmpty && viaFlat.exceptAll(viaMixture).isEmpty)
    // NULL domain -> default rate; NULL key -> never kept
    val edge = Seq((Some(7L), None: Option[String]), (None, Some("b")))
      .toDF("k", "dom")
    assert(edge.filter($"k".isNull &&
      Sampling.mixtureSamplePredicate($"k", $"dom", Seq("b" -> 1000))).count() == 0)
  }

  test("repeatWeighted: floor/ceil copies, expectation ~ weight, deterministic") {
    val df = (1L to 3000L).map(k => (k, Seq("a", "b", "c")((k % 3).toInt)))
      .toDF("k", "dom")
    val out = Sampling.repeatWeighted(df, $"k", $"dom",
      Seq("a" -> 2.5, "b" -> 0.0, "c" -> 0.4), defaultWeight = 1.0)
    val byDom = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(!byDom.contains("b"))                      // weight 0 drops
    assert(byDom("a") > 2300 && byDom("a") < 2700, byDom.toString)  // ~2.5×1000
    assert(byDom("c") > 300 && byDom("c") < 500, byDom.toString)    // ~0.4×1000
    // every 'a' key appears exactly 2 or 3 times, rep indices contiguous from 0
    val perKey = out.filter($"dom" === "a").groupBy("k")
      .agg(count(lit(1)).as("n"), min("rep").as("mn"), (max("rep") + 1).as("mx1"))
    assert(perKey.filter($"n" < 2 || $"n" > 3).count() == 0)
    assert(perKey.filter($"mn" =!= 0 || $"n" =!= $"mx1").count() == 0)
    // deterministic under repartition
    val again = Sampling.repeatWeighted(df.repartition(11), $"k", $"dom",
      Seq("a" -> 2.5, "b" -> 0.0, "c" -> 0.4), defaultWeight = 1.0)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // fractional coin is independent of the sample/split hash (salted):
    // among 'c' keys, kept-by-40‰-sample and got-extra-copy must differ
    val extraKeys = out.filter($"dom" === "c").select("k").distinct()
    val sampleKeys = df.filter($"dom" === "c")
      .filter(Sampling.hashSamplePredicate($"k", 400)).select("k")
    assert(extraKeys.exceptAll(sampleKeys).count() > 0)
  }

  test("repeatWeighted rejects negative or huge weights") {
    val df = Seq((1L, "a")).toDF("k", "dom")
    intercept[IllegalArgumentException] {
      Sampling.repeatWeighted(df, $"k", $"dom", Seq("a" -> -0.1))
    }
    intercept[IllegalArgumentException] {
      Sampling.repeatWeighted(df, $"k", $"dom", Seq.empty, defaultWeight = 1001.0)
    }
  }

  test("repeatWeighted preserves caller columns named pos/col; outRep collision rejected") {
    val df = Seq((1L, "a", 9, "payload")).toDF("k", "dom", "pos", "col")
    val out = Sampling.repeatWeighted(df, $"k", $"dom", Seq("a" -> 2.0))
    assert(out.columns.toSeq == Seq("k", "dom", "pos", "col", "rep"))
    assert(out.select("pos", "col").distinct().as[(Int, String)].collect()
      .toSeq == Seq((9, "payload")))
    intercept[IllegalArgumentException] {
      Sampling.repeatWeighted(df.withColumnRenamed("pos", "rep"), $"k", $"dom", Seq("a" -> 2.0))
    }
  }

  test("duplicate domain entries rejected (Spark Map vs SQL CASE would diverge)") {
    intercept[IllegalArgumentException] {
      Sampling.mixtureSamplePredicate(lit(1L), lit("a"), Seq("a" -> 10, "a" -> 900))
    }
    intercept[IllegalArgumentException] {
      Sampling.repeatCopiesSql("k", "dom", Seq("a" -> 1.0, "a" -> 2.0))
    }
  }

  test("splitLabelSql/hashValueSql mirror the Column forms (DuckDB parity is oracle-checked)") {
    // the SQL builders are string templates; sanity-pin their shape so a
    // refactor can't silently drop the modulus or the CASE order
    val sql = Sampling.splitLabelSql("doc_id", Seq("train" -> 80, "test" -> 20))
    assert(sql.contains("md5_number_lower") && sql.contains("% 72057594037927936"))
    assert(sql.indexOf("train") < sql.indexOf("test"))
  }

  test("withShardPlan: shards in range, pos contiguous per shard, layout-independent") {
    val docs = (1L to 500L).toDF("k")
    val plan = Sampling.withShardPlan(docs, $"k", 8)
    assert(plan.count() == 500)
    assert(plan.filter($"shard" < 0 || $"shard" >= 8).count() == 0)
    // pos is exactly 1..n within each shard — no gap, no duplicate
    val bad = plan.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd"))
      .filter($"mn" =!= 1 || $"mx" =!= $"n" || $"nd" =!= $"n")
    assert(bad.count() == 0)
    // bit-reproducible under a different input layout
    val again = Sampling.withShardPlan(docs.repartition(7), $"k", 8)
    assert(plan.exceptAll(again).isEmpty && again.exceptAll(plan).isEmpty)
  }

  test("prioritySample: k rows, contiguous rank, no replacement, deterministic") {
    val docs = (1L to 500L).map(i => (i, (i % 13) + 1)).toDF("k", "w")
    val s1 = Sampling.prioritySample(docs, $"k", $"w", k = 50)
      .select($"k", $"w", $"rank").as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(s1.length == 50)
    assert(s1.map(_._3).toSeq == (1 to 50))
    assert(s1.map(_._1).distinct.length == 50, "sample must be without replacement")
    val s2 = Sampling.prioritySample(docs, $"k", $"w", k = 50)
      .select($"k", $"w", $"rank").as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(s1.toSeq == s2.toSeq, "hash-derived priorities must be rerun-stable")
  }

  test("prioritySample: inclusion tracks weight; null/non-positive weights excluded") {
    // one row carries (almost) all the mass — priority w/u makes its
    // exclusion require u below ~100/1e6, and u is a fixed hash, so
    // this is deterministic, not flaky
    val docs = ((1L to 200L).map(i => (i, 1L)) :+ (999L, 1000000L))
      .toDF("k", "w")
    val got = Sampling.prioritySample(docs, $"k", $"w", k = 20)
      .select($"k").as[Long].collect().toSet
    assert(got.contains(999L), "the dominant-weight row must be sampled")
    val withBad = docs.union(Seq((777L, 0L), (778L, -5L)).toDF("k", "w"))
      .union(Seq((779L, Option.empty[Long])).toDF("k", "w"))
    val got2 = Sampling.prioritySample(withBad, $"k", $"w", k = 300)
      .select($"k").as[Long].collect().toSet
    assert(!got2.contains(777L) && !got2.contains(778L) && !got2.contains(779L))
    assert(got2.size == 201, "all positive-weight rows fit in k=300")
  }

  test("prioritySample: heavier duplicate-weight population is over-represented") {
    // 400 light rows (w=1) vs 100 heavy rows (w=20): expected heavy share
    // of a k=50 sample is far above the 1/5 population share; assert the
    // direction with wide margin (hash-fixed, so the exact count is stable)
    val docs = ((1L to 400L).map(i => (i, 1L)) ++ (1001L to 1100L).map(i => (i, 20L)))
      .toDF("k", "w")
    val heavy = Sampling.prioritySample(docs, $"k", $"w", k = 50)
      .filter($"k" >= 1000L).count()
    assert(heavy >= 25, s"heavy rows under-sampled: $heavy of 50")
  }

  test("bootstrapMeanCi: CI brackets the true mean and weights are Poisson-shaped") {
    val rows = (0 until 2000).map(i => (i.toLong, (i % 100).toLong * 100))
    val out = Sampling.bootstrapMeanCi(rows.toDF("id", "v"), $"id", $"v")
      .select($"n", $"point", $"ci_lo", $"ci_hi", $"n_replicas")
      .collect().head
    assert(out.getLong(0) == 2000 && out.getLong(4) == 32L)
    val (point, lo, hi) = (out.getDouble(1), out.getDouble(2), out.getDouble(3))
    assert(point == 4950.0)
    assert(lo < point && point < hi, s"CI [$lo, $hi] must bracket $point")
    // CI half-width should be in the vicinity of sigma/sqrt(n) ~ 64.5
    assert(hi - lo > 50 && hi - lo < 600, s"CI width ${hi - lo} implausible")
  }

  test("poissonThresholds56 matches Poisson(1) masses on a fine uniform grid") {
    val n = 200000
    val thresholds = graft.functions.Kernels.poissonThresholds56
    val counts = (0L until n)
      .map { i =>
        val u = i * (72057594037927936L / n)
        val k = thresholds.indexWhere(u < _)
        if (k < 0) 6 else k
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val eInv = math.exp(-1.0)
    val expect = Seq(1.0, 1.0, 0.5, 1.0 / 6, 1.0 / 24).map(_ * eInv)
    expect.zipWithIndex.foreach { case (p, k) =>
      val got = counts.getOrElse(k, 0L).toDouble / n
      assert(math.abs(got - p) < 0.005, f"P(K=$k) = $got%.4f want $p%.4f")
    }
    assert(counts.keys.max <= 6, "truncation cap")
  }

  test("bootstrap replica means are deterministic under repartitioning") {
    val rows = (0 until 500).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val a = Sampling.bootstrapMeanCi(rows, $"id", $"v").collect().head.toSeq
    val b = Sampling.bootstrapMeanCi(rows.repartition(13), $"id", $"v")
      .collect().head.toSeq
    assert(a == b)
  }

  test("aresSample: k rows, contiguous ranks, weight-biased inclusion") {
    // 900 weight-1 rows + 100 weight-50 rows: under A-Res without
    // replacement the heavy rows' inclusion mass dominates — a k=100
    // sample must be mostly heavy rows (each heavy row's key beats a
    // light row's with prob 50/51)
    val rows = (0 until 1000)
      .map(i => (i.toLong, if (i < 100) 50L else 1L)).toDF("id", "w")
    val out = Sampling.aresSample(rows, $"id", $"w", k = 100)
      .select($"id", $"rank").as[(Long, Int)].collect()
    assert(out.length == 100)
    assert(out.map(_._2).sorted.toSeq == (1 to 100))
    val heavy = out.count(_._1 < 100)
    assert(heavy >= 60, s"weighting ignored: only $heavy/100 heavy rows")
    // no duplicates — without replacement by construction
    assert(out.map(_._1).distinct.length == 100)
  }

  test("aresSample excludes non-positive weights and is repartition-stable") {
    val rows = (0 until 300)
      .map(i => (i.toLong, if (i % 3 == 0) 0L else i.toLong)).toDF("id", "w")
    val a = Sampling.aresSample(rows, $"id", $"w", k = 50)
      .select($"id").as[Long].collect().toSeq
    val b = Sampling.aresSample(rows.repartition(7), $"id", $"w", k = 50)
      .select($"id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.forall(_ % 3 != 0), "zero-weight rows leaked into the sample")
  }
}
