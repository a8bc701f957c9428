package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
  private val nearDup = base.trim + " lambda mu"   // small tail edit
  private val distinct1 = "one two three four five six seven eight nine ten " * 5
  private val distinct2 = "red green blue cyan magenta yellow black white pink grey " * 5

  private def docs = Seq(
    (0L, base.trim), (1L, base.trim), (2L, nearDup),
    (3L, distinct1.trim), (4L, distinct2.trim)
  ).toDF("doc_id", "text")

  test("posGramMd5 kernel equals the lambda-pipeline digests everywhere") {
    // the compiled kernel replaced transform(sequence, md5∘concat_ws∘
    // slice) under the passage/novelty/coverage family; pin them
    // byte-identical on the planted corpus plus the edges — exact-gram
    // boundary, double spaces (empty tokens), unicode, single token
    val edgy = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100L, "a b c"),                 // == gram: one digest
        (101L, "a  b   c d"),            // empty tokens from runs of spaces
        (102L, "héllo wörld ünïcode gram boundary test case seven eight"),
        (103L, "single")                 // < gram: empty array
      ).toDF("doc_id", "text"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
    for (gram <- Seq(2, 3, 8)) {
      // the composed lambda needs the production path's size>=gram
      // guard (sequence() descends below it); the kernel handles short
      // docs itself — asserted separately below
      val both = edgy.filter(size(col("t")) >= gram).select(
        graft.functions.GraftFunctions.posGramMd5(col("t"), gram).as("k"),
        Dedup.posGramMd5Composed(col("t"), gram).as("c")).collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"gram=$gram kernel/composed digests diverge")
      }
    }
    // short doc: kernel emits an empty array, no error
    val short = edgy.filter(size(col("t")) === 1)
      .select(graft.functions.GraftFunctions.posGramMd5(col("t"), 2))
      .collect()
    assert(short.length == 1 && short.head.getSeq[String](0).isEmpty)
  }

  test("shingled emits distinct word 3-grams; short texts yield empty set") {
    val out = Dedup.shingled(Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text"),
      col("doc_id"), col("text"))
    val m = out.as[(Long, Seq[String])].collect().toMap
    assert(m(1L).toSet == Set("a b c", "b c d"))
    assert(m(2L).isEmpty)
  }

  test("exactDedup groups identical normalized text") {
    val out = Dedup.exactDedup(docs, col("doc_id"), col("text"))
    val byKeep = out.select("keep_doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(byKeep(0L) == 2L) // docs 0 and 1 identical, keeper = min id
    assert(out.count() == 4)
  }

  test("collapseExact keeps smallest-id representative with copy count") {
    val out = Dedup.collapseExact(docs, col("doc_id"), col("text"))
    assert(out.columns.toSeq == Seq("doc_id", "text", "n_copies"))
    val m = out.select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(m == Map(0L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(out.filter($"doc_id" === 0L).select("text").as[String].head() == base.trim)
  }

  test("collapse-then-LSH pipeline equals LSH over distinct docs; dup work collapses") {
    // 5 copies of every doc: pair generation over the raw corpus would
    // face 10 identical candidates per dup group; collapsed form sees
    // each distinct text once
    val dup = (0 until 5).map(i => docs.withColumn("doc_id", $"doc_id" + lit(i * 100L)))
      .reduce(_.unionByName(_))
    val viaPipeline = Dedup.minhashLshPairsMd5(Dedup.shingled(
      Dedup.collapseExact(dup, col("doc_id"), col("text")), col("doc_id"), col("text")))
    // exact-dup pairs (0,1) are the exact stage's job (n_copies), so the
    // ground truth is LSH over the DISTINCT texts (drop copy doc 1)
    val direct = Dedup.minhashLshPairsMd5(Dedup.shingled(
      docs.filter($"doc_id" =!= 1L), col("doc_id"), col("text")))
    // representatives are the min-id copies = the original ids
    assert(viaPipeline.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      == direct.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
  }

  test("jaccardPairs finds the planted near-dup pair and nothing else") {
    val shingles = Dedup.shingled(docs, col("doc_id"), col("text"))
    val pairs = Dedup.jaccardPairs(shingles, block = lit(1), minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("containmentPairs: quoted-inside pair is one-directional and Jaccard-invisible") {
    // doc 11 (5 shingles) quoted verbatim inside doc 12 (19 shingles):
    // C(11->12)=1.0, C(12->11)=5/19, Jaccard=5/19 — below any useful
    // symmetric threshold.
    val quote = "p q r s t u v"
    val page = s"$quote w x y z aa bb cc dd ee ff gg hh ii"
    val docs = Seq((11L, quote), (12L, page), (13L, "k l m n o"))
      .toDF("doc_id", "text")
    val shingles = Dedup.shingled(docs, col("doc_id"), col("text"))
    val got = Dedup.containmentPairs(shingles, block = lit(1), minC = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((11L, 12L, 1.0)))
    // the symmetric measure misses it at the same threshold
    val jac = Dedup.jaccardPairs(shingles, block = lit(1), minJaccard = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(jac.isEmpty)
  }

  test("simhash: identical texts collide, unrelated texts are far") {
    val shingles = Dedup.shingled(docs, col("doc_id"), col("text"))
    val sims = shingles.filter(size(col("toks")) > 0)
      .select(col("doc_id"), graft.functions.GraftFunctions.md5Simhash60(col("toks")).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(sims(0L) == sims(1L))
    val hammingUnrelated = java.lang.Long.bitCount(sims(3L) ^ sims(4L))
    assert(hammingUnrelated > 10, s"unrelated docs too close: $hammingUnrelated")
  }

  test("prefix-filtered jaccardPairs is lossless vs brute-force block pairs (sf0.001 docs)") {
    import spark.implicits._
    val d = graft.core.Tables.documents(spark, sf001).filter(col("text").isNotNull)
    val sh = Dedup.shingled(d, col("doc_id"), col("text"), keep = Seq(col("lang")))
    val got = Dedup.jaccardPairs(sh, col("lang"), 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // brute force: all in-block pairs, no prefix/size filtering
    val a = sh.select(col("lang"), col("doc_id").as("da"), col("toks").as("ta"))
    val b = sh.select(col("lang"), col("doc_id").as("db"), col("toks").as("tb"))
    val brute = a.join(b, "lang").filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        round(size(array_intersect(col("ta"), col("tb"))).cast("double") /
          (size(col("ta")) + size(col("tb"))
            - size(array_intersect(col("ta"), col("tb")))).cast("double"), 6).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("minhash LSH candidates superset blocked-jaccard pairs on real sf0.001 documents") {
    val d = graft.core.Tables.documents(spark, sf001).filter(col("text").isNotNull)
    val shingles = Dedup.shingled(d, col("doc_id"), col("text"),
      keep = Seq(col("lang"), (col("n_chars") / lit(50)).cast("long").as("lb")))
    val exact = Dedup.jaccardPairs(shingles, struct(col("lang"), col("lb")), 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairsMd5(shingles.select("doc_id", "toks"), minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // high-similarity pairs must be recalled by LSH (s-curve ~0.5 threshold)
    assert(exact.subsetOf(lsh), s"LSH missed ${exact -- lsh}")
  }

  test("decontaminateBloom equals exact decontaminate — including under a saturated filter") {
    val d = graft.core.Tables.documents(spark, sf001).filter(col("text").isNotNull)
    val evalSet = d.filter(col("doc_id") % 10 === 0)
    val train = d.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"), col("text"))
    val exact = Dedup.decontaminate(train, col("text"), evalSet, col("text"))
      .select("doc_id").as[Long].collect().toSet
    val viaBloom = Dedup.decontaminateBloom(train, col("text"), evalSet, col("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(viaBloom == exact)
    // expectedItems=1 saturates the filter (everything "might contain"):
    // the exact backstop must still remove only true hits
    val saturated = Dedup.decontaminateBloom(train, col("text"), evalSet, col("text"),
      expectedItems = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(saturated == exact)
    // empty eval set: bloom aggregate yields no filter, nothing removed
    val noop = Dedup.decontaminateBloom(train, col("text"),
      evalSet.filter(lit(false)), col("text"))
    assert(noop.count() == train.count())
  }

  test("contaminationNgramReport catches eval text QUOTED inside a page; digest method does not") {
    val eval = Seq("what is the capital of france paris").toDF("text")
    val train = Seq(
      (1L, "some page asking what is the capital of france paris and more prose here"),
      (2L, "a completely unrelated document about cooking pasta at home tonight"),
      (3L, "too short to gram")).toDF("id", "text")
    // whole-text digest decontamination keeps all 3 (no verbatim copy)
    assert(Dedup.decontaminate(train, col("text"), eval, col("text")).count() == 3)
    // 7-gram overlap flags only the quoting page
    val report = Dedup.contaminationNgramReport(
      train, col("id"), col("text"), eval, col("text"), n = 7)
      .as[(Long, Long)].collect().toMap
    // the quote contains exactly 1 distinct shared 7-gram
    assert(report == Map(1L -> 1L))
  }

  test("dupPassages: a copied paragraph is one island with exact run length") {
    // docs 1 and 2 share a verbatim 12-token block inside otherwise
    // distinct text; 12 tokens = 12 - 8 + 1 = 5 consecutive 8-grams
    val block = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, s"one two three four five six $block seven eight nine ten eleven"),
      (2L, s"uno dos tres cuatro cinco seis $block siete ocho nueve diez once"),
      (3L, "totally unrelated filler text with enough tokens to gram nicely around")
    ).toDF("doc_id", "text")
    val out = Dedup.dupPassages(d, col("doc_id"), col("text"),
        gram = 8, minRun = 3, maxOcc = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.keySet == Set((1L, 2L)))
    // (n_passages, max_run_grams, max_span_tokens, dup_grams)
    assert(out((1L, 2L)) == ((1L, 5L, 12L, 5L)))
  }

  test("dupPassages: two separate copied blocks are two islands; short runs drop") {
    val blockA = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val blockB = "kilo lima mike november oscar papa quebec romeo sierra tango"
    // 10 tokens per block = 3 consecutive 8-grams each (>= minRun 3);
    // the blocks sit at DIFFERENT relative offsets in the two docs, so
    // they land on different diagonals
    val d = Seq(
      (1L, s"$blockA x1 y1 z1 w1 $blockB"),
      (2L, s"p q r $blockA x2 y2 $blockB tail word here")
    ).toDF("doc_id", "text")
    val out = Dedup.dupPassages(d, col("doc_id"), col("text"),
        gram = 8, minRun = 3, maxOcc = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(out((1L, 2L)) == ((2L, 3L, 6L)))
  }

  test("gramNovelty: shared block lowers novelty by exactly its gram share") {
    val block = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, s"one two three four five six $block seven eight nine ten eleven"),
      (2L, s"uno dos tres cuatro cinco seis $block siete ocho nueve diez once"),
      (3L, "totally unrelated filler text with enough tokens to gram nicely around")
    ).toDF("doc_id", "text")
    val out = Dedup.gramNovelty(d, col("doc_id"), col("text"), gram = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // docs 1/2: 23 tokens -> 16 grams, 5 inside the copied block shared
    assert(out(1L) == ((16L, 5L, 1.0 - 5.0 / 16.0)))
    assert(out(2L) == ((16L, 5L, 1.0 - 5.0 / 16.0)))
    // doc 3: 11 tokens -> 4 grams, nothing shared
    assert(out(3L) == ((4L, 0L, 1.0)))
  }

  test("selfRepeatPassages: a 3x template loop yields run and period exactly") {
    // 10-token block repeated 3x back-to-back after a 1-token intro:
    // block occupies positions 2..31. A gram at i repeats at period 10
    // iff i >= 2 and i+17 <= 31 -> i in 2..14 = run 13; at period 20
    // iff i in 2..4 = run 3. So 2 passages, max run 13 (span 20
    // tokens), dup 16, min_period 10.
    val block = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val d = Seq(
      (1L, s"intro $block $block $block"),
      (2L, "no repetition in this perfectly ordinary document of distinct words")
    ).toDF("doc_id", "text")
    val out = Dedup.selfRepeatPassages(d, col("doc_id"), col("text"),
        gram = 8, minRun = 3, maxOcc = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == ((2L, 13L, 20L, 16L, 10)))
  }

  test("dupPassages: boilerplate gram above the occurrence cap never seeds") {
    // the same 8-token sentence pasted into 20 docs: 13 grams... no —
    // one 8-gram per doc, 20 occurrences total > maxOcc 16, so the
    // seed is dropped and no pair is emitted (the stop-gram guard)
    val sent = "this exact boilerplate footer appears on every single"
    val d = (1L to 20L).map(i => (i, s"$sent page$i")).toDF("doc_id", "text")
    assert(Dedup.dupPassages(d, col("doc_id"), col("text"),
      gram = 8, minRun = 1, maxOcc = 16).isEmpty)
    // raising the cap to 20 admits it: C(20,2) = 190 pairs
    assert(Dedup.dupPassages(d, col("doc_id"), col("text"),
      gram = 8, minRun = 1, maxOcc = 20).count() == 190L)
  }

  test("incremental LSH equals the full pair set restricted to new-side pairs") {
    // near-dup families straddling the old/new boundary: ids 1,2 (old)
    // and 101 (new) share text A; 3 (old) and 103,104 (new) share B;
    // 5,6 (old only) share C — the (5,6) pair must NOT appear
    val mk = (i: Long, t: String) => (i, t)
    val docs = Seq(
      mk(1, "alpha beta gamma delta epsilon zeta"),
      mk(2, "alpha beta gamma delta epsilon zeta eta"),
      mk(101, "alpha beta gamma delta epsilon zeta theta"),
      mk(3, "one two three four five six seven"),
      mk(103, "one two three four five six eight"),
      mk(104, "one two three four five six nine"),
      mk(5, "red orange yellow green blue indigo"),
      mk(6, "red orange yellow green blue indigo violet"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingled(docs, col("doc_id"), col("text"))
    val isNew = col("doc_id") >= 100L
    val inc = Dedup.minhashLshIncrementalMd5(sh, isNew, minJaccard = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLshPairsMd5(sh, minJaccard = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expect = full.filter { case (a, b) => a >= 100 || b >= 100 }
    assert(inc == expect, s"inc=$inc expect=$expect")
    assert(!inc.contains((5L, 6L)), "corpus-internal pair re-scored")
    assert(inc.exists { case (a, b) => a < 100 && b >= 100 },
      "cross old-new pairs must be found")
    assert(inc.exists { case (a, b) => a >= 100 && b >= 100 },
      "new-new pairs must be found")
  }

  test("exactSubstrCoverage: a copied block covers exactly its token span") {
    // docs 1 and 2 share a verbatim 12-token block; gram=5 seeds at
    // positions p..p+7 (8 grams), whose [p, p+5) intervals union to one
    // 12-token span per doc. Everything else is unique -> uncovered.
    val block = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, s"one two three four five six $block seven eight nine ten eleven"),
      (2L, s"uno dos tres cuatro cinco seis $block siete ocho nueve diez once"),
      (3L, "totally unrelated filler text with enough tokens to gram nicely")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrCoverage(d, col("doc_id"), col("text"),
        gram = 5, minOcc = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((23L, 12L, 1L)))
    assert(out(2L) == ((23L, 12L, 1L)))
    assert(out(3L) == ((10L, 0L, 0L)))
  }

  test("exactSubstrCoverage: identical docs are fully covered; spans merge") {
    val t = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val d = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Dedup.exactSubstrCoverage(d, col("doc_id"), col("text"),
        gram = 5, minOcc = 2)
    val rows = out.collect().map(r => (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    rows.foreach { case (_, nTok, dup, spans, frac) =>
      assert(nTok == 10L && dup == 10L && spans == 1L && frac == 1.0d)
    }
  }

  test("exactSubstrCoverage: self-repeat within one doc counts (minOcc on total occurrences)") {
    // the 5-token phrase repeats inside a single document; separated
    // occurrences at distance > gram stay two distinct spans
    val d = Seq(
      (1L, "alpha bravo charlie delta echo u1 u2 u3 u4 u5 u6 alpha bravo charlie delta echo")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrCoverage(d, col("doc_id"), col("text"),
        gram = 5, minOcc = 2).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((16L, 10L, 2L)))
  }

  test("exactSubstrCoverage laws on sf0.001 documents: bounds, short docs, monotone in minOcc") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val cov = Dedup.exactSubstrCoverage(docs, col("doc_id"), col("text"),
      gram = 5, minOcc = 2)
    val bad = cov.filter(col("dup_tokens") > col("n_tokens") ||
      col("dup_tokens") < 0 || col("dup_frac") > 1.0 || col("dup_frac") < 0.0)
    assert(bad.count() == 0)
    // docs shorter than gram can never be covered
    assert(cov.filter(col("n_tokens") < 5 && col("dup_tokens") > 0).count() == 0)
    // raising minOcc can only shrink coverage
    val cov3 = Dedup.exactSubstrCoverage(docs, col("doc_id"), col("text"),
      gram = 5, minOcc = 3).select(col("doc_id"), col("dup_tokens").as("d3"))
    val joined = cov.select(col("doc_id"), col("dup_tokens")).join(cov3, "doc_id")
    assert(joined.filter(col("d3") > col("dup_tokens")).count() == 0)
  }

  test("suffixSpans: planted cross-doc span found exactly, once, at its position") {
    val shared = (1 to 12).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $shared tail one two"),
      (2L, s"x y $shared z"),
      (3L, "totally unrelated words that never repeat anywhere at all")
    ).toDF("doc_id", "text")
    val out = Dedup.suffixSpans(docs, col("doc_id"), col("text"),
        rounds = 6, minLcp = 8, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 1, s"expected exactly the planted pair, got ${out.toSeq}")
    val (da, db, lss, pa, pb) = out(0)
    assert((da, db) == (1L, 2L))
    assert(lss == 12L, s"planted 12-token span, measured $lss")
    assert(pa == 3L && pb == 2L, s"positions off: $pa, $pb")
  }

  test("suffixSpans: within-doc repetition reported as a self-pair") {
    val phrase = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (7L, s"$phrase bridge word $phrase"),
      (8L, "other text with no repeats at all whatsoever today")
    ).toDF("doc_id", "text")
    val out = Dedup.suffixSpans(docs, col("doc_id"), col("text"),
        rounds = 6, minLcp = 8, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == 1, s"got ${out.toSeq}")
    assert(out(0) == ((7L, 7L, 10L, 0L, 12L)), s"got ${out(0)}")
  }

  test("suffixSpans: depth cap clamps the measured LCP to 2^(rounds+1)-1") {
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, long)).toDF("doc_id", "text")
    // rounds=2 -> max measurable 1+2+4 = 7 tokens
    val capped = Dedup.suffixSpans(docs, col("doc_id"), col("text"),
        rounds = 2, minLcp = 2, topN = 5)
      .agg(max(col("lss_tokens"))).collect()(0).getLong(0)
    assert(capped == 7L, s"cap should be 7, got $capped")
    // rounds=6 -> exact 20
    val exact = Dedup.suffixSpans(docs, col("doc_id"), col("text"),
        rounds = 6, minLcp = 2, topN = 5)
      .agg(max(col("lss_tokens"))).collect()(0).getLong(0)
    assert(exact == 20L, s"exact LSS should be 20, got $exact")
  }

  test("suffixSpans is deterministic across partitionings (real documents)") {
    val docs = graft.core.Tables.documents(spark, sf001)
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.suffixSpans(d, col("doc_id"), col("text"), topN = 10)
        .collect().map(_.toSeq).toSeq
    assert(run(docs) == run(docs.repartition(13)))
  }
}
