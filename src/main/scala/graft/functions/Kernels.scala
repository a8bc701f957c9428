package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Tight JIT-compiled kernels behind the graft native expressions. Each
  * scalar kernel here has one [[ScalarKernel]] descriptor in
  * [[GraftFunctions]], which names the method, its argument and result
  * types and its int parameters; the generic [[UnaryKernelCall]] and
  * [[BinaryKernelCall]] expressions emit the static call.
  *
  * Rationale: Spark evaluates higher-order-function lambdas interpreted
  * (no whole-stage codegen inside `transform`/`aggregate`), so hash-heavy
  * per-row loops (64-seed minhash, 60-bit simhash tallies, rolling-hash
  * winnowing) cost 10-50x their compiled equivalent. Each kernel is one
  * static call from generated code — the loop itself runs as ordinary
  * JVM bytecode operating directly on Spark's unsafe representations
  * (UTF8String bytes, ArrayData), no row conversion, no allocation
  * beyond the output.
  *
  * Near-duplicate detection has ONE hash family: md5-derived MinHash and
  * SimHash plus Karp–Rabin rolling winnowing (see the md5-derived family
  * section), every value of which the DuckDB oracle recomputes.
  *
  * Methods are called from Janino-generated Java via the Scala static
  * forwarders on this object's companion class.
  */
object Kernels {

  /** SORTED-distinct word n-gram shingle set of a token array: shingle i
    * = tokens[i..i+n) joined by a single space. Output order is
    * UTF8String binary order — the same ordering array_sort uses — so the
    * result satisfies the merge-intersect invariant. Null tokens
    * contribute empty strings (callers tokenize with split(), which never
    * yields nulls). Short inputs (<n tokens) yield an empty array. */
  def wordShingles(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    val m = total - (n - 1)
    if (m < 1) return new GenericArrayData(new Array[Any](0))
    val sep = UTF8String.fromString(" ")
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (tokens.isNullAt(i + j)) UTF8String.EMPTY_UTF8
                   else tokens.getUTF8String(i + j)
        j += 1
      }
      set.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(set.toArray[AnyRef](new Array[AnyRef](set.size)))
  }

  /** Dot product of two array<double> of equal length (element nulls not
    * allowed — callers build inputs with transform-cast, which preserves
    * values). Summed left-to-right, the same order as the higher-order
    * `aggregate(zip_with(...))` fold it replaces, so results are
    * bit-identical to the HOF formulation — but the loop JIT-compiles
    * and reads ArrayData directly instead of interpreting two lambda
    * trees per element. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"graft_dot: array lengths differ (${n} vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Symmetric max-abs int8 quantization of a float vector:
    * q[i] = floor(x[i] · 127/max|x| + 0.5), i.e. round-half-up in
    * double — an arithmetic DuckDB reproduces exactly (the oracle
    * recomputes it per element), unlike round-half-even. All-zero (or
    * empty) vectors quantize to zeros; null elements count as 0. Output
    * values are in [-127, 127] — storage drops to 1 byte/dim + one
    * scale, the standard ANN-index compression. NaN elements quantize
    * to 0 JVM-side (double→int conversion) but are outside the oracle
    * contract — filter them upstream if your corpus can contain them. */
  def quantizeInt8(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val v = math.abs(vec.getFloat(i).toDouble)
        if (v > maxAbs) maxAbs = v
      }
      i += 1
    }
    val out = new Array[Int](n)
    if (maxAbs > 0) {
      val scale = 127.0 / maxAbs
      i = 0
      while (i < n) {
        if (!vec.isNullAt(i))
          out(i) = math.floor(vec.getFloat(i).toDouble * scale + 0.5).toInt
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  // ------------------------------------------------- md5-derived family
  //
  // The near-duplicate hash family: every value is derived from the
  // first 60 bits of an md5 digest (= the first 15 hex chars of the
  // standard lowercase digest string), which any SQL engine can
  // recompute — DuckDB's oracle does, nibble by nibble — so the FULL
  // pipeline (signatures, banding, candidate sets) is engine-vs-engine
  // verifiable, not just spec-level claims.

  private val md5Tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(bytes) as a non-negative long — numerically
    * equal to parsing the first 15 chars of the hex digest base-16. */
  def md5Hash60(bytes: Array[Byte]): Long = {
    val md = md5Tl.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** The engine-portable 56-bit hash of [[graft.ops.Sampling.hashValue]]
    * computed directly from digest bytes: the little-endian low 7 bytes
    * of md5 (digest bytes 8..14, byte 14 most significant) — numerically
    * equal to DuckDB's `md5_number_lower(s) % 2^56` and to the original
    * hex-string formulation (md5 → 7 substrings → concat → conv), but
    * one static call instead of a 10-node string pipeline; measured
    * ~4 µs/row → sub-µs on the hash-heavy suite paths. */
  def md5Low56(s: UTF8String): Long = {
    val md = md5Tl.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 14
    while (i >= 8) { v = (v << 8) | (d(i) & 0xffL); i -= 1 }
    v
  }

  private val NullSpellings: Array[UTF8String] =
    Array("\\N", "NULL", "NUL").map(UTF8String.fromString)

  /** NULL_IF('\\N','NULL','NUL','') of
    * workfile_design_data_warehouse.sql:38–44: null for an exact match
    * of one of the reference's NULL spellings (byte equality, so
    * ' NULL' or 'null' stay values), the input itself otherwise. Every
    * spelling is at most 4 bytes, so longer values return after one
    * length check. */
  def nullIfSpelling(s: UTF8String): UTF8String =
    if (s.numBytes == 0 || (s.numBytes <= 4 && NullSpellings.contains(s))) null else s

  /** Seed-i member of the rotate-xor family over a 60-bit base hash:
    * rotate right by `rot(i)` within 60 bits, then xor a 60-bit constant
    * derived from md5("graft-minhash-seed-i"). A bijection per seed —
    * the cheap permutation family for minhash — using only shift/or/xor
    * arithmetic both engines evaluate identically (no mul overflow). */
  def rotOf(i: Int): Int = (i * 7 + 3) % 60
  def constOf(i: Int): Long =
    md5Hash60(s"graft-minhash-seed-$i".getBytes("UTF-8"))
  private val MaxSeeds = 256
  private val rots: Array[Int] = Array.tabulate(MaxSeeds)(rotOf)
  private val consts: Array[Long] = Array.tabulate(MaxSeeds)(constOf)

  private def rotXor60(x: Long, rot: Int, c: Long): Long = {
    val r = if (rot == 0) x
            else (x >>> rot) | ((x & ((1L << rot) - 1)) << (60 - rot))
    r ^ c
  }

  /** md5-family MinHash signature: out[i] = min over tokens of
    * rotXor60(md5Hash60(token), i). Null tokens skipped. */
  def md5MinhashSig(tokens: ArrayData, numHashes: Int): ArrayData = {
    require(numHashes <= MaxSeeds, s"numHashes must be <= $MaxSeeds")
    val n = tokens.numElements()
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val base = md5Hash60(tokens.getUTF8String(t).getBytes)
        var i = 0
        while (i < numHashes) {
          val h = rotXor60(base, rots(i), consts(i))
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  /** md5-family 60-bit SimHash: bit i set iff
    * Σ_tokens (2·bit_i(md5Hash60(token)) − 1) > 0. Null tokens skipped. */
  def md5Simhash60(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = tokens.numElements()
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val h = md5Hash60(tokens.getUTF8String(t).getBytes)
        var i = 0
        while (i < 60) {
          counts(i) += (((h >>> i) & 1L).toInt << 1) - 1
          i += 1
        }
      }
      t += 1
    }
    var sim = 0L
    var i = 0
    while (i < 60) {
      if (counts(i) > 0) sim |= 1L << i
      i += 1
    }
    sim
  }

  /** Karp–Rabin polynomial parameters for the rolling-hash winnow —
    * Schleimer et al.'s original hash family, and one any SQL engine
    * recomputes exactly: gram hash = Horner fold of the gram's Unicode
    * CODE POINTS, h = fold((a, c) => (a·B + c) mod P) seeded with the
    * first code point. All intermediates fit a 64-bit long
    * (cp < 2^21, B·acc < 2^50). */
  val RollB = 1000003L
  val RollP = 1000000007L

  /** Rolling-hash winnowing over CHARACTER k-grams (code points, the
    * unit SQL substr/unicode expose, so the oracle can replay the gram
    * grid): O(1) per gram via the Karp–Rabin roll — cheaper than a
    * strong hash per gram by ~50×, which is exactly why the original
    * winnowing paper rolls. Keep the min of each w-window, first-seen
    * de-duplicated. Short inputs (< k code points) fingerprint the
    * whole text; empty text fingerprints as [0]. */
  def winnowRoll(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    // code points once per row (UTF-16 surrogate pairs collapse)
    val nChars = s.length
    var cpCount = 0
    var ci = 0
    while (ci < nChars) { ci += Character.charCount(s.codePointAt(ci)); cpCount += 1 }
    val cps = new Array[Long](cpCount)
    ci = 0; var o = 0
    while (ci < nChars) {
      val cp = s.codePointAt(ci)
      cps(o) = cp.toLong; o += 1; ci += Character.charCount(cp)
    }
    def horner(from: Int, until: Int): Long = {
      if (until <= from) return 0L
      var h = cps(from)
      var j = from + 1
      while (j < until) { h = (h * RollB + cps(j)) % RollP; j += 1 }
      h
    }
    val n = cpCount
    if (n < k) return new GenericArrayData(Array(horner(0, n)))
    val m = n - k + 1
    val grams = new Array[Long](m)
    grams(0) = horner(0, k)
    // Bk1 = B^(k-1) mod P for the leading-term removal
    var bk1 = 1L
    var e = 0
    while (e < k - 1) { bk1 = (bk1 * RollB) % RollP; e += 1 }
    var i = 1
    while (i < m) {
      var d = (grams(i - 1) - (cps(i - 1) * bk1) % RollP) % RollP
      if (d < 0) d += RollP
      grams(i) = (d * RollB + cps(i + k - 1)) % RollP
      i += 1
    }
    val windows = if (m >= w) m - w + 1 else 1
    val effW = math.min(w, m)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < windows) {
      var mn = Long.MaxValue
      var x = 0
      while (x < effW) {
        val g = grams(j + x)
        if (g < mn) mn = g
        x += 1
      }
      seen.add(mn)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Jaro-Winkler similarity over UTF-8 BYTES, matching DuckDB's
    * `jaro_winkler_similarity` bit-for-bit (validated exhaustively
    * against DuckDB on random + real-name corpora): byte-level match
    * window (NOT codepoints — DuckDB's vendored implementation walks
    * the raw UTF-8 encoding), either-empty → 0.0 (including BOTH
    * empty, where the textbook definition says 1.0), Winkler prefix
    * boost of 0.1·min(prefix,4)·(1−jaro) applied only when jaro > 0.7.
    * Standard flag-array algorithm: O(window·len) time, two small
    * boolean scratch arrays, no boxing — safe as a per-candidate-pair
    * kernel inside whole-stage codegen. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes
    val s2 = b.getBytes
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val f1 = new Array[Boolean](l1)
    val f2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var done = false
      while (j < hi && !done) {
        if (!f2(j) && s1(i) == s2(j)) {
          f1(i) = true; f2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (f1(i)) {
        while (!f2(k)) k += 1
        if (s1(i) != s2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val pmax = math.min(4, math.min(l1, l2))
      while (p < pmax && s1(p) == s2(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** |A ∩ B| for two SORTED string arrays (strictly ascending, i.e.
    * sorted distinct sets): single merge pass, zero allocation. The
    * caller owns the sorted-distinct invariant (see Dedup.shingled). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Fixed-point upper-triangle outer product of a float vector:
    * out[k] = floor(x[i]·x[j]·10^6) for 0 ≤ i ≤ j < d, flat index
    * k = i·d − i·(i−1)/2 + (j − i). Each product is float→double cast
    * (exact) then two IEEE double multiplies — bit-identical in any
    * engine — and `floor` (not round) avoids the half-way tie
    * conventions engines disagree on. Null elements count as 0. The
    * d(d+1)/2 longs feed [[SumLongArray]]: the Gram matrix XᵀX as one
    * combinable aggregate whose addition is exact-integer and therefore
    * order-independent — the distributed-sum form a covariance/PCA
    * pipeline needs (per-task partial buffers, no per-pair shuffle). */
  def gramUpperTriQ(vec: ArrayData): ArrayData = {
    val d = vec.numElements()
    val out = new Array[Long](d * (d + 1) / 2)
    var k = 0
    var i = 0
    while (i < d) {
      val xi = if (vec.isNullAt(i)) 0.0 else vec.getFloat(i).toDouble
      var j = i
      while (j < d) {
        val xj = if (vec.isNullAt(j)) 0.0 else vec.getFloat(j).toDouble
        out(k) = math.floor(xi * xj * 1e6).toLong
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Poisson(1) inverse-CDF thresholds on the 56-bit hash scale,
    * truncated at k = 6: a uniform 56-bit draw u has weight k for the
    * first k with u < thresholds(k), else 6. The one table both
    * [[bootstrapRow]] and `Sampling.bootstrapMeanCiSql` draw from. */
  private[graft] val poissonThresholds56: Array[Long] = {
    val eInv = math.exp(-1.0)
    val fact = Array(1L, 1L, 2L, 6L, 24L, 120L)
    val two56 = math.pow(2, 56)
    fact.indices.map { k =>
      val c = (0 to k).map(j => eInv / fact(j)).sum
      math.floor(c * two56).toLong
    }.toArray
  }

  /** One bootstrap row's FULL replica contribution: out[r] = w_r and
    * out[replicas + r] = w_r · v, where w_r is the Poisson(1)
    * multiplicity drawn from md5-56("boot:&lt;r&gt;:&lt;id&gt;") — the
    * row-local resampling of Chamandy et al.'s Poisson bootstrap.
    * Replaces the explode(×replicas) + per-replica concat_ws/md5
    * Column pipeline with one compiled loop per row; the positional
    * array then feeds [[graft.functions.SumLongArray]], so the
    * per-replica (Σw, Σw·v) sums are unchanged exact longs arriving
    * via one combinable aggregate instead of a ×replicas row shuffle. */
  // "boot:<r>:" key prefixes, cached for the common replica counts —
  // the md5 input is then two update() calls on reused byte arrays,
  // no per-draw String/UTF8String allocation
  private val bootPrefixes: Array[Array[Byte]] =
    Array.tabulate(256)(r => s"boot:$r:".getBytes("UTF-8"))

  def bootstrapRow(id: UTF8String, v: Long, replicas: Int): ArrayData = {
    val out = new Array[Long](2 * replicas)
    val idBytes = id.getBytes
    val md = md5Tl.get()
    var r = 0
    while (r < replicas) {
      md.reset()
      md.update(if (r < 256) bootPrefixes(r) else s"boot:$r:".getBytes("UTF-8"))
      md.update(idBytes)
      val d = md.digest()
      var h = 0L
      var i = 14
      while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
      var w = 6L
      var k = 0
      var found = false
      while (!found && k < poissonThresholds56.length) {
        if (h < poissonThresholds56(k)) { w = k.toLong; found = true }
        k += 1
      }
      out(r) = w
      out(replicas + r) = w * v
      r += 1
    }
    new GenericArrayData(out)
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Positional `gram`-gram md5 HEX digests of a token array:
    * out[j] = md5_hex(concat_ws(" ", tokens[j..j+gram))) for
    * 0 ≤ j ≤ n−gram — the compiled form of the
    * `transform(sequence, i -> md5(concat_ws(slice(...))))` lambda
    * pipeline (interpreted, one array-slice + string-concat allocation
    * per position) shared by the passage/novelty/coverage dedup
    * family. Token bytes are staged once; each position is two-or-more
    * digest update() calls and one 32-char hex emit. Null tokens are
    * skipped exactly as concat_ws skips them (no separator left
    * behind). Docs shorter than `gram` emit an empty array. */
  def posGramMd5(tokens: ArrayData, gram: Int): ArrayData = {
    val n = tokens.numElements()
    val m = n - gram + 1
    if (m <= 0) return new GenericArrayData(new Array[AnyRef](0))
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val md = md5Tl.get()
    val out = new Array[AnyRef](m)
    var j = 0
    while (j < m) {
      md.reset()
      var first = true
      var k = j
      while (k < j + gram) {
        if (tb(k) != null) {
          if (!first) md.update(' '.toByte)
          md.update(tb(k))
          first = false
        }
        k += 1
      }
      val d = md.digest()
      val cs = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        cs(2 * b) = hexDigits((d(b) >> 4) & 0xf).toByte
        cs(2 * b + 1) = hexDigits(d(b) & 0xf).toByte
        b += 1
      }
      out(j) = UTF8String.fromBytes(cs)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Lowercase with EXACT Spark `lower()` semantics (UTF8String's
    * ASCII fast path / full-unicode slow path), so the kernel form
    * below stays bit-identical to the composed-Column form. */
  private def lowerLikeSpark(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** Canonical crawl URL in ONE compiled pass — the
    * [[graft.ops.Urls]] rule set (scheme/host case-fold, default-port
    * drop, fragment drop, utm_* strip + bytewise param sort, trailing
    * slash trim), previously a ~50-node composed string-expression
    * tree whose generated code re-sliced the input per sub-expression.
    * Null (loudly excluded from the dedup groupBy) when the input
    * lacks "://" or the path slash. Bit-identical to the composed form
    * — UrlsSpec cross-checks both on the alias corpus: lowercase via
    * UTF8String semantics, params sorted in UTF-8 binary order
    * (array_sort's ordering), same first-'?'-first-':' anchors. */
  def canonicalizeUrl(url: UTF8String): UTF8String = {
    val s = url.toString
    val hi = s.indexOf('#')
    val noFrag = if (hi >= 0) s.substring(0, hi) else s
    val si = noFrag.indexOf("://")
    if (si < 0) return null // not well-formed
    // scheme = before the FIRST "://", remainder after the LAST (the
    // substring_index(±1) pair of the composed form)
    val rest = noFrag.substring(noFrag.lastIndexOf("://") + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) return null // no path
    val scheme = lowerLikeSpark(noFrag.substring(0, si))
    val hp = rest.substring(0, slash)
    val tail = rest.substring(slash)
    val qm = tail.indexOf('?')
    val path0 = if (qm >= 0) tail.substring(0, qm) else tail
    val query = if (qm >= 0) tail.substring(qm + 1) else ""
    val cp = hp.indexOf(':')
    val host = lowerLikeSpark(if (cp >= 0) hp.substring(0, cp) else hp)
    val port = if (cp >= 0) hp.substring(cp + 1) else ""
    val dropPort = port.isEmpty ||
      (scheme == "https" && port == "443") ||
      (scheme == "http" && port == "80")
    val path =
      if (path0.length > 1 && path0.charAt(path0.length - 1) == '/')
        path0.substring(0, path0.length - 1)
      else path0
    val out = new java.lang.StringBuilder(s.length)
    out.append(scheme).append("://").append(host)
    if (!dropPort) out.append(':').append(port)
    out.append(path)
    if (query.nonEmpty) {
      val raw = query.split("&", -1)
      val kept = new java.util.ArrayList[UTF8String](raw.length)
      var i = 0
      while (i < raw.length) {
        val p = raw(i)
        if (p.length > 0 && !p.startsWith("utm_")) {
          kept.add(UTF8String.fromString(p))
        }
        i += 1
      }
      if (!kept.isEmpty) {
        java.util.Collections.sort(kept) // UTF-8 binary order
        out.append('?')
        var j = 0
        while (j < kept.size) {
          if (j > 0) out.append('&')
          out.append(kept.get(j).toString)
          j += 1
        }
      }
    }
    UTF8String.fromString(out.toString)
  }

  /** Spark's round(double) (scale 0, decimal HALF_UP) followed by a
    * long cast — replicated via the identical java.math API calls so
    * kernel results are bit-equal to the expression form they replace. */
  private def roundHalfUpToLong(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue().toLong

  /** Per-document character-entropy sufficient statistics in ONE pass
    * over the text — the compiled form of the explode-to-characters +
    * two-aggregate plan in TextOps.charEntropy (one row per CHARACTER
    * of the corpus through two exchanges, the dominant cost of every
    * entropy-gated curation query). Bit-identical by construction:
    *
    *   - characters are the code points Java regex `.` matches, i.e.
    *     everything except the 5 line terminators (LF, CR, U+0085,
    *     U+2028, U+2029) — exactly what explode(regexp_extract_all(
    *     text, '.')) produced;
    *   - S = Σ_c count(c) · round(ln count(c) · 1e6) with the same
    *     decimal HALF_UP round + long cast as the SQL form;
    *   - entropy_micro = round(ln n · 1e6) − round(S / n).
    *
    * Returns null for a text with no matching characters (those docs
    * had no (doc, ch) group and dropped out of the aggregate). */
  def charEntropyStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Array[Int]]()
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (cp != '\n' && cp != '\r' && cp != 0x85 && cp != 0x2028
          && cp != 0x2029) {
        val slot = counts.get(cp)
        if (slot == null) counts.put(cp, Array(1)) else slot(0) += 1
      }
    }
    if (counts.isEmpty) return null
    var nChars = 0L
    var sMicro = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toLong
      nChars += c
      sMicro += c * roundHalfUpToLong(math.log(c.toDouble) * 1e6d)
    }
    val entropy = roundHalfUpToLong(math.log(nChars.toDouble) * 1e6d) -
      roundHalfUpToLong(sMicro.toDouble / nChars.toDouble)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nChars, counts.size(), entropy))
  }
}
