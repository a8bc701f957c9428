package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, input: String)(implicit e: org.apache.spark.sql.Encoder[T]): T =
    Seq(input).toDF("s").select(c.as("r").as[T]).head()

  test("tokenCount and subwordCount") {
    assert(one[Int](TextOps.tokenCount(col("s")), "the cat sat") == 3)
    // 'v2.1-beta' -> v, 2, ., 1, -, beta
    assert(one[Int](TextOps.subwordCount(col("s")), "v2.1-beta") == 6)
  }

  test("withLangId picks marker language, CJK short-circuits, und if nothing matches") {
    def lang(input: String): String = TextOps.withLangId(Seq(input).toDF("s"), col("s"), "r")
      .select(col("r")).as[String].head()
    assert(lang("der hund und die katze ist da") == "de")
    assert(lang("the quick fox is a friend") == "en")
    assert(lang("le chat et la souris est petite") == "fr")
    assert(lang("你好 world") == "zh")
    assert(lang("xyzzy plugh") == "und")
  }

  test("qualityScore stays in [0,1] and rewards longer diverse text") {
    val short = one[Double](TextOps.qualityScore(col("s")), "word word word")
    val rich = one[Double](TextOps.qualityScore(col("s")),
      ("the quality of a document is measured and scored " * 12).trim)
    assert(short >= 0.0 && short <= 1.0 && rich >= 0.0 && rich <= 1.0)
    assert(rich > short)
  }

  test("winnowing fingerprints: identical text -> identical set; shared passage -> overlap") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a + " with an extra tail appended here"
    val c = "completely unrelated content with different characters entirely"
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "text")
    val fp = TextOps.withFingerprintsRolling(df, col("text"), "fp")
      .select("id", "fp").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L) == fp(2L))
    val overlapNear = (fp(1L).toSet & fp(3L).toSet).size.toDouble / fp(1L).size
    val overlapFar = (fp(1L).toSet & fp(4L).toSet).size.toDouble / fp(1L).size
    assert(overlapNear > 0.8, s"prefix-sharing docs should share fingerprints: $overlapNear")
    assert(overlapFar < 0.2, s"unrelated docs should not: $overlapFar")
  }

  test("fingerprints handle degenerate short text") {
    val fp = TextOps.withFingerprintsRolling(Seq((1L, "hi")).toDF("id", "text"), col("text"), "fp")
      .select("fp").as[Seq[Long]].head()
    assert(fp.nonEmpty)
  }

  test("staged withTextStats is value-identical to the inline forms (real docs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull)
    val inlineStats = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.qualityScore(col("text")).as("quality_score"))
    val stagedStats = TextOps.withTextStats(docs, col("text"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    assert(stagedStats.exceptAll(inlineStats).isEmpty && inlineStats.exceptAll(stagedStats).isEmpty)
  }

  test("chunk: boundaries, overlap, single-chunk shorts, full coverage") {
    // 10 tokens, chunk 4, overlap 2 -> step 2 -> chunks at 0,2,4,6 (4 chunks)
    val doc = (1 to 10).map(i => s"w$i").mkString(" ")
    val out = TextOps.chunk(Seq((1L, doc)).toDF("id", "text"), col("text"), 4, 2)
      .select($"chunk_id", $"chunk_text").as[(Int, String)].collect().sortBy(_._1)
    assert(out.length == 4)
    assert(out(0)._2 == "w1 w2 w3 w4")
    assert(out(1)._2 == "w3 w4 w5 w6") // 2-token overlap
    assert(out(3)._2 == "w7 w8 w9 w10") // last chunk reaches the end
    // every token appears in some chunk (coverage)
    assert(out.flatMap(_._2.split(" ")).toSet == doc.split(" ").toSet)
    // short doc -> exactly one chunk, intact
    val short = TextOps.chunk(Seq((2L, "a b")).toDF("id", "text"), col("text"), 4, 2)
      .select($"chunk_id", $"chunk_text").as[(Int, String)].collect()
    assert(short.toSeq == Seq((0, "a b")))
    // exact-multiple boundary: 4 tokens, chunk 4 -> one chunk only
    val exact = TextOps.chunk(Seq((3L, "a b c d")).toDF("id", "text"), col("text"), 4, 2)
    assert(exact.count() == 1)
    intercept[IllegalArgumentException] { TextOps.chunk(exact, col("text"), 4, 4) }
  }

  test("chunk: no shuffle in the plan (pure per-row explode)") {
    val df = spark.range(10).select($"id", lit("x y z").as("text"))
    val plan = TextOps.chunk(df, col("text"), 2, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("redactPii: emails and phone shapes out, ordinary digits and text kept") {
    val rows = Seq(
      "write to jane.doe+spam@mail.example.org today",
      "call +1 (555) 010-1234 or 555 010 9876 now",
      "emails like a@b.io inside, phone 02 9374 4000.",
      "year 2024 price $1,299 room 42 stay intact",
      "")
      .toDF("t")
      .select(TextOps.redactPii(col("t")).as("r")).as[String].collect()
    assert(rows(0) == "write to [EMAIL] today")
    assert(rows(1) == "call [PHONE] or [PHONE] now")
    assert(rows(2) == "emails like [EMAIL] inside, phone [PHONE].")
    assert(rows(3) == "year 2024 price $1,299 room 42 stay intact")
    assert(rows(4) == "")
  }

  test("gopherQuality: hand-computed repetition metrics and pass flags") {
    val docs = Seq(
      (1L, "a a a a b"), // dominated by one word
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // diverse, long enough
      (3L, "solo")) // one word: no bigrams at all
      .toDF("id", "text")
    val out = TextOps.gopherQuality(docs, col("id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap

    val d1 = out(1L)
    assert(d1.getLong(1) == 5L) // n_words
    assert(d1.getDouble(2) == 0.4) // 2 distinct / 5
    assert(d1.getDouble(3) == 0.8) // "a" 4/5
    assert(d1.getDouble(4) == 0.75) // "a a" 3/4
    assert(!d1.getBoolean(5)) // fails: short AND repetitive

    val d2 = out(2L)
    assert(d2.getLong(1) == 12L)
    assert(d2.getDouble(2) == 1.0)
    assert(d2.getDouble(3) == 0.083333) // round(1/12, 6)
    assert(d2.getDouble(4) == 0.090909) // round(1/11, 6)
    assert(d2.getBoolean(5))

    val d3 = out(3L)
    assert(d3.getLong(1) == 1L)
    assert(d3.isNullAt(4)) // no bigrams -> NULL, does not veto
    assert(!d3.getBoolean(5)) // min-words rule rejects it anyway
  }

  test("unigramLogProb: hand-computed micro-nat means on a tiny corpus") {
    // corpus counts: a=3, b=1, c=1, total=5
    // lp_micro: a = round(ln(3/5)*1e6) = -510826; b = c = round(ln(1/5)*1e6) = -1609438
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "text")
    val out = TextOps.unigramLogProb(docs, col("id"), col("text"))
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 1: (2*(-510826) + (-1609438)) / 3e6 = -0.87703
    assert(out(1L) == ((3, -0.87703)))
    // doc 2: ((-510826) + (-1609438)) / 2e6 = -1.060132
    assert(out(2L) == ((2, -1.060132)))
    // the doc built of rarer tokens scores lower
    assert(out(2L)._2 < out(1L)._2)
  }

  test("lineDedup: shared lines removed everywhere, unique lines kept in order") {
    // 2-token "lines"; "x x" appears in docs 1 and 2 -> boilerplate
    val docs = Seq(
      (1L, "a b x x c d"),  // lines: "a b" | "x x" | "c d"
      (2L, "x x e f"),      // lines: "x x" | "e f"
      (3L, "x x")           // all boilerplate -> empty text_kept
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs, "doc_id", "text", lineTokens = 2, minDocs = 2)
      .select($"doc_id", $"n_lines", $"n_kept", $"text_kept")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 2L, "a b c d"))) // order preserved across the gap
    assert(out(2L) == ((2L, 1L, "e f")))
    assert(out(3L) == ((1L, 0L, "")))        // empty string, not NULL
  }

  test("lineDedup: within-doc repetition alone does not trigger removal") {
    // "q q" twice in ONE doc: count of DISTINCT docs is 1 -> kept
    val docs = Seq((1L, "q q q q"), (2L, "r r s s")).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs, "doc_id", "text", lineTokens = 2, minDocs = 2)
      .select($"doc_id", $"text_kept").as[(Long, String)].collect().toMap
    assert(out(1L) == "q q q q")
    assert(out(2L) == "r r s s")
  }

  test("bpePairStats: hand-computed pair counts, vocab weighting, tiebreak") {
    // vocab: "abab" x2 (pairs ab,ba,ab -> ab:2, ba:1 per occurrence),
    //        "ab" x1, "a" x1 (single char -> no pairs)
    val docs = Seq((1L, "abab ab a"), (2L, "abab")).toDF("doc_id", "text")
    val out = TextOps.bpePairStats(docs, col("text"), k = 10)
      .select($"a", $"b", $"n", $"rank")
      .as[(String, String, Long, Int)].collect().toSeq
    // ab: 2*2 + 1 = 5; ba: 2*1 = 2
    assert(out == Seq(("a", "b", 5L, 1), ("b", "a", 2L, 2)))
  }

  test("bm25TopK: rarity outranks commonality, tf raises, length dampens") {
    // "common" appears in 6 docs, "rare" in 2 — same tf and length where
    // they compete, so idf decides
    val docs = (Seq(
      (1L, "rare pad pad pad"),
      (2L, "common pad pad pad"),
      (3L, "rare rare pad pad"),            // higher tf than doc 1
      (4L, "common pad pad pad pad pad pad pad pad pad pad pad") // longer
    ) ++ (5L to 9L).map(i => (i, "common pad"))).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, "doc_id", col("text"),
      terms = Seq("rare", "common"), k = 10)
      .select($"doc_id", $"n_terms", $"score_micro", $"rank")
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 9 && out.values.forall(_._3 > 0))
    val score = out.view.mapValues(_._3).toMap
    assert(score(1L) > score(2L), "rare term must outrank common at equal tf/len")
    assert(score(3L) > score(1L), "higher tf must raise the score")
    assert(score(2L) > score(4L), "longer doc must be dampened at equal tf")
    assert(out.values.map(_._4).toSeq.sorted == (1 to 9))
  }

  test("hashClfScore: deterministic, bounded, tf-sensitive") {
    val s1 = one[Double](TextOps.hashClfScore(col("s")), "the cat sat")
    val s2 = one[Double](TextOps.hashClfScore(col("s")), "the cat sat")
    assert(s1 == s2 && s1 >= -1.0 && s1 <= 1.0)
    // single-token doc: score is exactly round((bucket - k/2) / (k/2), 6)
    val k = TextOps.HashClfBuckets
    val b = Seq("the").toDF("s")
      .select(Sampling.hashBucket(col("s"), k).as[Long]).head()
    val expected = BigDecimal((b - k / 2) / (k / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(one[Double](TextOps.hashClfScore(col("s")), "the") == expected)
    // repeating a token moves the mean toward that token's weight
    val rep = one[Double](TextOps.hashClfScore(col("s")), "the the the cat")
    val bal = one[Double](TextOps.hashClfScore(col("s")), "the cat")
    assert(math.abs(rep - expected) < math.abs(bal - expected))
  }

  test("gpt2Tokens: contraction/space/number/punct pieces, GPT-2 conventions") {
    val out = Seq("Hello world, it's 42 tokens-ish! x2")
      .toDF("s").select(TextOps.gpt2Tokens(col("s")).as[Seq[String]]).head()
    assert(out == Seq("Hello", " world", ",", " it", "'s", " 42",
      " tokens", "-", "ish", "!", " x", "2"))
  }

  test("bigramLogProb: hand-checked MLE on a 2-doc corpus; short docs drop") {
    // corpus bigrams: d1 "a b a b" -> (a,b)x2 (b,a)x1; d2 "a c" -> (a,c)x1; d3 "x"
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x")).toDF("id", "text")
    val out = TextOps.bigramLogProb(docs, col("id"), col("text"))
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!out.contains(3L)) // single-token doc has no bigrams
    // model: P(b|a)=2/3, P(c|a)=1/3, P(a|b)=1
    def micro(p: Double) = math.round(math.log(p) * 1e6)
    val d1 = (2 * micro(2.0 / 3) + 1 * micro(1.0)) / (3 * 1e6)
    val d2 = micro(1.0 / 3) / 1e6
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3, r6(d1))))
    assert(out(2L) == ((1, r6(d2))))
  }

  test("charEntropy: hand-checked micro-nats; uniform max, constant zero") {
    val docs = Seq((1L, "aaaa"), (2L, "abcd"), (3L, "aab"))
      .toDF("id", "text")
    val out = TextOps.charEntropy(docs, col("id"), col("text"))
      .as[(Long, Long, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((4L, 1, math.round(math.log(4) * 1e6) -
      math.round(4 * math.round(math.log(4) * 1e6) / 4.0))))
    assert(out(1L)._3 == 0L) // constant text: zero entropy exactly
    assert(out(2L) == ((4L, 4, math.round(math.log(4) * 1e6)))) // uniform: ln 4
    val s3 = 2 * math.round(math.log(2) * 1e6) + 1 * 0L
    assert(out(3L) == ((3L, 2,
      math.round(math.log(3) * 1e6) - math.round(s3 / 3.0))))
  }

  test("charEntropy kernel ≡ explode-regexp formulation (terminators, astral, empty)") {
    // the round-11 compiled kernel must reproduce the explode form
    // bit-for-bit, including its `.`-regex character set (the 5 line
    // terminators excluded), supplementary code points, and the
    // no-matching-characters dropout
    val docs = Seq(
      (1L, "hello world\nsecond line\r\nthird"),
      (2L, "a\nb\rc\u0085d\u2028e\u2029f"), // all 5 terminator classes
      (3L, "😀😀 emoji 😁"), // astral pairs
      (4L, "\n\r\n"), // ONLY terminators: no char rows -> absent
      (5L, ""), // empty: absent
      (6L, "mixed éé accents 中文")
    ).toDF("id", "text")
    val kernel = TextOps.charEntropy(docs, col("id"), col("text"))
      .as[(Long, Long, Int, Long)].collect().toSet
    // the pre-kernel formulation, verbatim
    val chars = docs.select(col("id").as("doc_id"),
      explode(regexp_extract_all(col("text"), lit("."), lit(0))).as("ch"))
    val cf = chars.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val legacy = cf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * round(log(col("c").cast("double")) * 1e6d).cast("long"))
          .as("__s"))
      .select(col("doc_id"), col("n_chars"),
        col("n_distinct_chars").cast("int").as("n_distinct_chars"),
        (round(log(col("n_chars").cast("double")) * 1e6d).cast("long") -
          round(col("__s").cast("double") / col("n_chars")).cast("long"))
          .as("entropy_micro"))
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(kernel == legacy)
    assert(!kernel.exists(r => r._1 == 4L || r._1 == 5L))
  }
}
