package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{GraftFunctions, Kernels}

/** The md5-derived hash family behind the oracle-checkable dedup/
  * fingerprint variants. The driver's DuckDB oracle replays these
  * end-to-end; this spec pins the kernel-level contracts that make the
  * replay sound (hex-prefix equivalence, blocking losslessness,
  * candidate soundness).
  */
class Md5FamilySpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
  private val nearDup = base.trim + " lambda mu"
  private val distinct1 = "one two three four five six seven eight nine ten " * 5
  private val distinct2 = "red green blue cyan magenta yellow black white pink grey " * 5

  private def docs = Seq(
    (0L, base.trim), (2L, nearDup),
    (3L, distinct1.trim), (4L, distinct2.trim)
  ).toDF("doc_id", "text")

  /** `docs` plus doc 1, an exact copy of doc 0. */
  private def docsWithCopy = docs.union(Seq((1L, base.trim)).toDF("doc_id", "text"))

  test("md5Hash60 equals the base-16 parse of the first 15 hex chars") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592
    assert(Kernels.md5Hash60("hello".getBytes("UTF-8"))
      == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
    assert(Kernels.md5Hash60(Array.empty[Byte])
      == java.lang.Long.parseLong("d41d8cd98f00b20", 16)) // md5("")
    // non-negative by construction (60 bits)
    assert(Kernels.md5Hash60("any".getBytes("UTF-8")) >= 0L)
  }

  test("rotate-xor seeds are bijective per seed (distinct inputs stay distinct)") {
    val sig1 = Kernels.md5MinhashSig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array("a", "b", "c").map(org.apache.spark.unsafe.types.UTF8String.fromString)), 64)
    val sig2 = Kernels.md5MinhashSig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array("a", "b", "d").map(org.apache.spark.unsafe.types.UTF8String.fromString)), 64)
    // signatures of overlapping sets agree on SOME components (shared
    // minima) but not all — the family actually discriminates
    val (a1, a2) = (sig1.toLongArray(), sig2.toLongArray())
    assert(a1.zip(a2).exists { case (x, y) => x == y })
    assert(a1.zip(a2).exists { case (x, y) => x != y })
  }

  test("minhashLshPairsMd5 is sound (every pair passes exact Jaccard) and finds the planted pair") {
    def lshPairs(input: org.apache.spark.sql.DataFrame) = {
      val shingles = Dedup.shingled(input, col("doc_id"), col("text"))
      val out = Dedup.minhashLshPairsMd5(shingles)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard")
        .as[(Long, Long, Double, Double)].collect()
      assert(out.forall(_._4 >= 0.5))
      assert(out.map(p => (p._1, p._2)).contains((0L, 2L))) // base vs nearDup
      // exact ground truth: blocked-free jaccardPairs over one block
      val exact = Dedup.jaccardPairs(shingles, block = lit(1), minJaccard = 0.5)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(out.map(p => (p._1, p._2)).toSet.subsetOf(exact))
      out.foreach { case (_, _, est, j) =>
        assert(math.abs(est - j) < 0.35, s"estimate $est too far from exact $j")
      }
      out
    }
    lshPairs(docs)
    // with an exact copy: every exact-Jaccard pair is recovered, and the
    // copy pair estimates and verifies at exactly 1.0
    val withCopy = lshPairs(docsWithCopy)
    assert(withCopy.map(r => (r._1, r._2)).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    val identical = withCopy.find(r => (r._1, r._2) == (0L, 1L)).get
    assert(identical._3 == 1.0 && identical._4 == 1.0)
  }

  test("simhashPairsMd5 equals the brute-force Hamming filter (blocking is lossless)") {
    def check(input: org.apache.spark.sql.DataFrame) = {
      val shingles = Dedup.shingled(input, col("doc_id"), col("text"))
      val out = Dedup.simhashPairsMd5(shingles)
        .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val sims = shingles.filter(size(col("toks")) > 0)
        .select(col("doc_id"), GraftFunctions.md5Simhash60(col("toks")).as("sim"))
        .as[(Long, Long)].collect()
      val brute = (for {
        (ida, sa) <- sims; (idb, sb) <- sims if ida < idb
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (ida, idb, h)).toSet
      assert(out == brute)
      out
    }
    check(docs)
    // the exact copy pairs at Hamming 0; unrelated docs never pair
    val withCopy = check(docsWithCopy).map(r => (r._1, r._2) -> r._3).toMap
    assert(withCopy((0L, 1L)) == 0)
    assert(!withCopy.contains((3L, 4L)))
  }

  test("winnowRoll: rolling gram hashes equal the direct Horner fold") {
    // the O(1)-per-gram roll must produce the same values as computing
    // each gram's polynomial from scratch (what the DuckDB oracle does)
    def horner(s: String): Long = {
      val cps = s.codePoints().toArray
      var h = cps(0).toLong
      cps.drop(1).foreach(c => h = (h * Kernels.RollB + c) % Kernels.RollP)
      h
    }
    val text = "the quick brown fox jumps over the lazy dog 中文字符"
    val fromKernel = Kernels.winnowRoll(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), 8, 4).toLongArray().toSet
    val grams = (0 to text.codePointCount(0, text.length) - 8).map { i =>
      val st = text.offsetByCodePoints(0, i)
      val en = text.offsetByCodePoints(0, i + 8)
      horner(text.substring(st, en))
    }
    val m = grams.size
    val direct = (0 until m - 4 + 1).map(j => grams.slice(j, j + 4).min).distinct.toSet
    assert(fromKernel == direct)
  }

  test("winnowRoll: short text fingerprints whole text; near-dups share fingerprints") {
    val fps = TextOps.withFingerprintsRolling(docs, col("text"), "fp")
      .select(col("doc_id"), col("fp")).as[(Long, Seq[Long])].collect().toMap
    // n < k: single fingerprint = Horner hash of the whole text
    val short = TextOps.withFingerprintsRolling(
        Seq((9L, "tiny")).toDF("doc_id", "text"), col("text"), "fp")
      .select(col("fp")).as[Seq[Long]].head()
    val expect = "tiny".codePoints().toArray
      .map(_.toLong).reduce((a, c) => (a * Kernels.RollB + c) % Kernels.RollP)
    assert(short == Seq(expect))
    fps.values.foreach(f => assert(f.nonEmpty && f.distinct.size == f.size))
    // near-identical docs share most fingerprints; unrelated docs share none
    val inter02 = fps(0L).toSet.intersect(fps(2L).toSet).size.toDouble
    assert(inter02 / fps(0L).size > 0.8)
    assert(fps(3L).toSet.intersect(fps(4L).toSet).isEmpty)
  }

  test("md5Low56 kernel is bit-identical to the original hex pipeline") {
    // random-ish strings incl. unicode, empties, long keys
    val keys = (0 until 2000).map(i => s"key-$i-${"x" * (i % 50)}") ++
      Seq("", "caf\u00e9 \u65e5\u672c", "a|b|c", "-1", "0")
    val df = keys.toDF("k")
    val mismatches = df.select(
        Sampling.hashValue($"k").as("fast"),
        Sampling.hashValueViaHex($"k").as("slow"))
      .filter($"fast" =!= $"slow").count()
    assert(mismatches == 0L)
    // null-in null-out, like the pipeline form
    val nulls = Seq[Option[String]](None).toDF("k")
      .select(Sampling.hashValue($"k")).collect()
    assert(nulls.head.isNullAt(0))
  }
}
