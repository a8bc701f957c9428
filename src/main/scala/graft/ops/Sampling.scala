package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting — the
  * ops a training-data pipeline uses to carve train/val/test sets and
  * fixed-rate subsamples out of a 100 TB corpus.
  *
  * Everything here is a pure per-row expression of a stable key: no
  * RNG state, no `rand()` — so assignment is reproducible across runs,
  * engines, cluster sizes and row orders, survives re-partitioning, and
  * never shuffles. (Spark's `df.sample`/`rand(seed)` is deterministic
  * only for a fixed partitioning — a repartition or a second engine
  * reassigns rows; hash-of-key never does.) This is the standard
  * hash-split design used by large-scale data pipelines.
  *
  * The hash primitive is the low 56 bits of MD5 (little-endian), which
  * both Spark (`md5` hex + byte-reverse + `conv`) and DuckDB
  * (`md5_number_lower % 2^56`) can compute bit-identically — see
  * [[hashValueSql]] — so split assignment itself is oracle-checkable.
  * 56 bits keeps the value inside a signed long in both engines.
  */
object Sampling {

  /** Number of hex-char-pair start offsets (1-based, most-significant
    * first) of digest bytes 14 down to 8 in the md5 hex string — the
    * little-endian low 7 bytes of DuckDB's `md5_number_lower`. */
  private val leByteOffsets = Seq(29, 27, 25, 23, 21, 19, 17)

  /** 56-bit deterministic hash of `key` in [0, 2^56): equals
    * `md5_number_lower(key) % 2^56` in DuckDB. NULL key → NULL hash.
    *
    * Keys are hashed via their string form, so cross-engine parity
    * holds only for types whose rendering is canonical in both engines:
    * strings and integral types. Float/decimal/timestamp keys render
    * engine-specifically (Spark "1.0E10" vs DuckDB "10000000000.0") —
    * cast such keys to string yourself, canonically, first. */
  def hashValue(key: Column): Column = {
    // one codegen'd kernel call (GraftFunctions.md5Low56, digest bytes
    // 8..14 little-endian) — bit-identical to the original hex-pipeline
    // formulation (md5 → substring at leByteOffsets → concat → conv),
    // which Md5FamilySpec still pins the kernel against
    graft.functions.GraftFunctions.md5Low56(key.cast("string"))
  }

  /** The original string-pipeline formulation of [[hashValue]] — kept
    * as the independent cross-check the spec pins the kernel against. */
  private[graft] def hashValueViaHex(key: Column): Column = {
    val hex = md5(key.cast("string").cast("binary"))
    val le = concat(leByteOffsets.map(i => substring(hex, i, 2)): _*)
    conv(le, 16, 10).cast("long")
  }

  /** DuckDB SQL computing exactly [[hashValue]] of `keyExpr`. */
  def hashValueSql(keyExpr: String): String =
    s"CAST(md5_number_lower(CAST($keyExpr AS VARCHAR)) % 72057594037927936 AS BIGINT)"

  /** Uniform bucket in [0, buckets) from the 56-bit hash. Bias from the
    * non-dividing modulus is < buckets/2^56 — negligible for any sane
    * bucket count. */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets > 0, "buckets must be positive")
    hashValue(key) % buckets
  }

  def hashBucketSql(keyExpr: String, buckets: Int): String =
    s"${hashValueSql(keyExpr)} % $buckets"

  private def validateSplits(splits: Seq[(String, Int)]): Unit = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "splits must be positive")
    require(splits.map(_._2).sum == 100, "split percents must sum to 100")
  }

  /** Bucket-to-label table: label of every bucket in [0, 100). */
  private def bucketLabels(splits: Seq[(String, Int)]): Seq[String] =
    splits.flatMap { case (label, pct) => Seq.fill(pct)(label) }

  /** Train/val/test-style split assignment: `splits` maps label →
    * integer percent (must sum to 100). A row's label is determined
    * solely by its key's hash bucket in [0,100), so membership is
    * stable under reruns, engines and data layout, and rows with equal
    * keys always land in the same split (the property that prevents
    * test-set leakage between duplicate documents).
    *
    * NULL keys get a NULL label (not a silent slot in the last split) —
    * a null-keyed row has no stable identity to assign; coalesce keys
    * first if they should participate. Implemented as ONE hash + a
    * 100-entry array lookup, not a when-chain: Catalyst's subexpression
    * elimination does not reach through conditional when-chains, which
    * would re-evaluate the md5 pipeline once per split. */
  def splitLabel(key: Column, splits: Seq[(String, Int)]): Column = {
    validateSplits(splits)
    // element_at is 1-based; NULL bucket (null key) → NULL label
    element_at(typedlit(bucketLabels(splits)), (hashBucket(key, 100) + 1).cast("int"))
  }

  /** DuckDB CASE expression equal to [[splitLabel]], NULL-key → NULL
    * included. (The oracle's per-branch bucket recomputation is
    * semantically identical; single-evaluation only matters Spark-side.) */
  def splitLabelSql(keyExpr: String, splits: Seq[(String, Int)]): String = {
    validateSplits(splits)
    val bucket = hashBucketSql(keyExpr, 100)
    val cuts = splits.scanLeft(0)(_ + _._2).tail
    val whens = splits.zip(cuts).init
      .map { case ((label, _), upper) => s"WHEN $bucket < $upper THEN '$label'" }
    (s"CASE WHEN $keyExpr IS NULL THEN NULL ${whens.mkString(" ")} " +
      s"ELSE '${splits.last._1}' END")
  }

  /** Deterministic Bernoulli sample: keeps a row iff its key hashes
    * under `permille`/1000. The scalable replacement for
    * `df.sample(f)`: no RNG, no partitioning sensitivity, and the SAME
    * rows are kept on every engine and every run — so a 10‰ debug
    * sample drawn next month overlaps this month's exactly, and a
    * smaller rate's sample is a subset of a larger's. NULL keys are
    * never sampled (predicate is false, not null, for them). */
  def hashSamplePredicate(key: Column, permille: Int): Column = {
    require(permille >= 0 && permille <= 1000, "permille in [0, 1000]")
    coalesce(hashBucket(key, 1000) < permille, lit(false))
  }

  def hashSamplePredicateSql(keyExpr: String, permille: Int): String =
    s"coalesce(${hashBucketSql(keyExpr, 1000)} < $permille, false)"

  /** Stratified exactly-k sample: the k rows of each group whose keys
    * hash lowest — "20 docs per language" eval-set construction. Unlike
    * rate-based sampling this guarantees the COUNT per group (small
    * groups yield all their rows); like everything here it is
    * deterministic and engine-portable, because "hash lowest" is a
    * total order (hash, then key as tiebreak for the theoretical
    * collision). One shuffle on the group key; Spark 4 rewrites the
    * rank-filter to a WindowGroupLimit, so each partition keeps a
    * k-sized heap rather than sorting whole groups. NULL keys hash
    * NULL and sort last, so they are picked only when a group has
    * fewer than k non-null-keyed rows.
    *
    * The key must be row-unique WITHIN each group: (hash, key) totally
    * orders key VALUES, not rows, so among duplicate-key rows straddling
    * rank k the winner is engine/layout-arbitrary — dedupe or add a
    * uniquifying column first (same caveat as [[graft.ops.AsofJoin]]'s
    * equal-ts right rows). */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, group: Column, key: Column,
                       k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    Qualify.rowNumber(df, Seq(group), Seq(hashValue(key).asc_nulls_last, key.asc), n = k)
  }

  /** DuckDB QUALIFY clause equal to the [[stratifiedSample]] filter. */
  def stratifiedSampleSql(groupExpr: String, keyExpr: String, k: Int): String =
    s"row_number() OVER (PARTITION BY $groupExpr " +
      s"ORDER BY ${hashValueSql(keyExpr)} ASC NULLS LAST, $keyExpr ASC) <= $k"

  // ------------------------------------------------- corpus mixture ops

  private def validateRates(rates: Seq[(String, Int)]): Unit = {
    require(rates.forall { case (_, p) => p >= 0 && p <= 1000 },
      "rates are permille in [0, 1000]")
    requireDistinctDomains(rates.map(_._1))
  }

  /** Duplicate domains would silently diverge between the Column form
    * (Map keeps the LAST entry) and the SQL CASE (FIRST match wins). */
  private def requireDistinctDomains(domains: Seq[String]): Unit = {
    val dups = domains.diff(domains.distinct).distinct
    require(dups.isEmpty, s"duplicate domain entries: ${dups.mkString(", ")}")
  }

  /** Per-domain sampling: keep a row iff its key hashes under its
    * domain's permille rate — the downsampling half of corpus mixture
    * control ("keep 30% of crawl, all of reference text"). Domains
    * absent from `rates` (and NULL domains) use `defaultPermille`;
    * NULL keys are never kept. Same hash as [[hashSamplePredicate]],
    * so a domain at rate r keeps exactly the rows a flat r‰ sample
    * keeps — rates can be tuned per-domain without reshuffling which
    * rows survive. */
  def mixtureSamplePredicate(key: Column, domain: Column,
                             rates: Seq[(String, Int)],
                             defaultPermille: Int = 1000): Column = {
    validateRates(rates)
    require(defaultPermille >= 0 && defaultPermille <= 1000,
      "defaultPermille in [0, 1000]")
    val rate =
      if (rates.isEmpty) lit(defaultPermille)
      else coalesce(element_at(typedlit(rates.toMap), domain), lit(defaultPermille))
    coalesce(hashBucket(key, 1000) < rate, lit(false))
  }

  /** DuckDB predicate equal to [[mixtureSamplePredicate]]. */
  def mixtureSamplePredicateSql(keyExpr: String, domainExpr: String,
                                rates: Seq[(String, Int)],
                                defaultPermille: Int = 1000): String = {
    validateRates(rates)
    val whens = rates
      .map { case (d, p) => s"WHEN $domainExpr = '${d.replace("'", "''")}' THEN $p" }
      .mkString(" ")
    val rate = if (rates.isEmpty) s"$defaultPermille"
               else s"CASE $whens ELSE $defaultPermille END"
    s"coalesce(${hashBucketSql(keyExpr, 1000)} < $rate, false)"
  }

  /** Distinct salt for the fractional-repeat coin flip, so it is
    * independent of the sample/split assignment of the same key. */
  private def repSalted(key: Column): Column =
    concat(key.cast("string"), lit("|rep")) // concat (not concat_ws): NULL key stays NULL
  private def repSaltedSql(keyExpr: String): String =
    s"(CAST($keyExpr AS VARCHAR) || '|rep')"

  /** Number of copies of a row under fractional per-domain repetition
    * weights (milli-precision): weight 2.3 → 2 copies always, a 3rd
    * for the 30% of keys whose salted hash falls under the fraction.
    * In expectation every domain contributes weight × its rows, and
    * the realized count is deterministic per key. NULL keys never get
    * the fractional extra (no stable coin to flip). */
  private def repeatCopies(key: Column, domain: Column,
                           milliWeights: Map[String, Int],
                           defaultMilli: Int): Column = {
    val wm =
      if (milliWeights.isEmpty) lit(defaultMilli)
      else coalesce(element_at(typedlit(milliWeights), domain), lit(defaultMilli))
    val extra = when(hashBucket(repSalted(key), 1000) < wm % 1000, 1).otherwise(0)
    ((wm / 1000).cast("int") + extra).as("n_copies")
  }

  /** Weighted corpus repetition — the upsampling half of mixture
    * control ("2.5 epochs of curated text, 0.4 of crawl"). Emits each
    * row `floor(w)` or `ceil(w)` times (per-key deterministic coin on
    * the fractional part; weight 0 drops, weight 1 is identity) with a
    * 0-based copy index in `outRep`, so downstream shuffles/packing can
    * treat copies as distinct rows. Weights have millesimal precision
    * and must be in [0, 1000]. The explode is per-row with no shuffle
    * and no driver state — the 100 TB shape.
    *
    * Pair with [[mixtureSamplePredicate]] when sub-1 weights should
    * instead SELECT a subset (stable sample) rather than flip per-key
    * coins independent of the sample hash. */
  def repeatWeighted(df: org.apache.spark.sql.DataFrame, key: Column, domain: Column,
                     weights: Seq[(String, Double)], defaultWeight: Double = 1.0,
                     outRep: String = "rep"): org.apache.spark.sql.DataFrame = {
    def milli(w: Double): Int = {
      require(w >= 0 && w <= 1000, s"weight out of [0, 1000]: $w")
      math.round(w * 1000).toInt
    }
    requireDistinctDomains(weights.map(_._1))
    require(!df.columns.contains(outRep), s"input already has a column '$outRep'")
    val n = repeatCopies(key, domain, weights.map { case (d, w) => d -> milli(w) }.toMap,
      milli(defaultWeight))
    // alias BOTH generator outputs (a caller column named "pos"/"col"
    // must survive untouched — the ADVICE-r01 clobber class)
    val dummy = Names.fresh("rep_dummy", df.columns :+ outRep)
    df.select(col("*"),
        posexplode(array_repeat(lit(true), n)).as(Seq(outRep, dummy)))
      .drop(dummy)
  }

  /** DuckDB expression equal to [[repeatWeighted]]'s copy count; the
    * oracle explodes it with `unnest(generate_series(1, n)) - 1`. */
  def repeatCopiesSql(keyExpr: String, domainExpr: String,
                      weights: Seq[(String, Double)],
                      defaultWeight: Double = 1.0): String = {
    def milli(w: Double): Int = math.round(w * 1000).toInt
    requireDistinctDomains(weights.map(_._1))
    val whens = weights
      .map { case (d, w) => s"WHEN $domainExpr = '${d.replace("'", "''")}' THEN ${milli(w)}" }
      .mkString(" ")
    val wm = if (weights.isEmpty) s"${milli(defaultWeight)}"
             else s"CASE $whens ELSE ${milli(defaultWeight)} END"
    s"(($wm) // 1000 + CASE WHEN coalesce(${hashBucketSql(repSaltedSql(keyExpr), 1000)} " +
      s"< ($wm) % 1000, false) THEN 1 ELSE 0 END)"
  }

  /** Deterministic global shuffle + shard assignment — the terminal step
    * of a training-data pipeline ("write the corpus as N shuffled
    * shards"). Adds `shard` (hash bucket of the key in [0, shards)) and
    * `pos` (the row's 1-based position within its shard under hash
    * order): a SPECIFIED total order, so the written dataset is
    * bit-reproducible across runs, engines and input layouts — unlike
    * `orderBy(rand())`, which reshuffles on every retry and breaks
    * training-resume determinism. Keys must be row-unique (a dedup
    * pipeline's invariant); ties on the theoretical hash collision are
    * broken by the key itself.
    *
    * Scale shape: ONE shuffle on `shard` and a within-partition sort —
    * `pos` plans as a per-shard window, and with shards ≈ executor
    * parallelism each window partition is one task.
    * 100 TB / 10k shards = 10 GB sorted per task: size `shards` so a
    * shard's rows fit a task's spill budget. */
  def withShardPlan(df: org.apache.spark.sql.DataFrame, key: Column,
                    shards: Int): org.apache.spark.sql.DataFrame = {
    require(shards > 0, "shards must be positive")
    val h = Names.fresh("shard_h", df.columns)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(h), key)
    df.withColumn(h, hashValue(key))
      .withColumn("shard", hashBucket(key, shards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("int"))
      .drop(h)
  }

  /** DuckDB (shard, pos) expressions equal to [[withShardPlan]]'s. */
  def shardPlanSql(keyExpr: String, shards: Int): (String, String) = {
    val shard = s"CAST(${hashBucketSql(keyExpr, shards)} AS INTEGER)"
    val pos = s"CAST(ROW_NUMBER() OVER (PARTITION BY $shard " +
      s"ORDER BY ${hashValueSql(keyExpr)}, $keyExpr) AS INTEGER)"
    (shard, pos)
  }

  /** Deterministic weighted sampling WITHOUT replacement via priority
    * sampling (Duffield-Lund-Thorup, JACM 2007): each row gets priority
    * w/u with u uniform in (0,1], and the k highest-priority rows form
    * the sample — heavy rows are included with probability proportional
    * to weight, and the scheme supports unbiased subset-sum estimation.
    * Our u is (hash+1)/2^56 of the row key (same 56-bit md5 primitive as
    * every split/shard op), so the "randomness" is a pure function of
    * the key: reruns, engines and layouts agree, and equal keys can
    * never both enter the sample twice under dedup-then-sample.
    *
    * Plan shape: priority is one map-side expression; top-k is
    * `orderBy(...).limit(k)` = TakeOrderedAndProject — per-partition
    * heaps + a single k-row reduce to the driver stage, NO global sort,
    * the only shape that survives a 100 TB scan. The priority compare is
    * `w/(h+1)` in doubles: both operands convert and divide under IEEE
    * round-to-nearest in any engine, so the ORDER (with key tiebreak) is
    * bit-reproducible cross-engine without emitting the float itself.
    * Non-positive and null weights are excluded (they have no sampling
    * mass). Returns the k sampled rows with their 1-based `rank`. */
  def prioritySample(df: org.apache.spark.sql.DataFrame, key: Column,
                     weight: Column, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val pri = Names.fresh("pri", df.columns)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(pri).desc, key)
    df.filter(weight.isNotNull && weight > 0 && key.isNotNull)
      .withColumn(pri, weight.cast("double") / (hashValue(key) + 1).cast("double"))
      .orderBy(col(pri).desc, key)
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .drop(pri)
  }

  /** DuckDB priority expression equal to [[prioritySample]]'s (rank and
    * limit are left to the caller's QUALIFY/ORDER BY). */
  def prioritySql(keyExpr: String, weightExpr: String): String =
    s"CAST($weightExpr AS DOUBLE) / CAST(${hashValueSql(keyExpr)} + 1 AS DOUBLE)"

  /** Weighted sampling WITHOUT replacement, the Efraimidis–Spirakis
    * A-Res scheme (2006): each row draws u ~ Uniform(0,1] from the
    * engine-portable md5-56 hash and keeps key u^(1/w); the k largest
    * keys are EXACTLY a weighted sample without replacement —
    * inclusion probability proportional to weight among remaining
    * rows at every draw, the distributional guarantee
    * [[prioritySample]]'s w/u priority order (a Duffield–Lund–Thorup
    * threshold estimator) does not make. Ranked by the monotone
    * transform ln(u)/w instead of u^(1/w) itself (same order, one ln
    * + one divide — the PMI/ln discipline), pico-quantized to a
    * BIGINT with a key tiebreak so the cross-engine order is exact.
    * Same plan shape as prioritySample: map-side expression +
    * TakeOrderedAndProject, no global sort. */
  def aresSample(df: org.apache.spark.sql.DataFrame, key: Column,
                 weight: Column, k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val kc = Names.fresh("ares", df.columns)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(kc).desc, key)
    df.filter(weight.isNotNull && weight > 0 && key.isNotNull)
      .withColumn(kc,
        round(log((hashValue(key).cast("double") + 1.0) / 7.2057594037927936e16)
          / weight.cast("double") * 1e12).cast("long"))
      .orderBy(col(kc).desc, key)
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumnRenamed(kc, "key_pico")
  }

  /** DuckDB key expression equal to [[aresSample]]'s ln(u)/w pico
    * key (rank and limit are the caller's QUALIFY/ORDER BY). */
  def aresKeySql(keyExpr: String, weightExpr: String): String =
    s"""CAST(ROUND(ln((CAST(${hashValueSql(keyExpr)} AS DOUBLE) + 1)
       / 72057594037927936.0) / CAST($weightExpr AS DOUBLE) * 1e12)
       AS BIGINT)"""

  /** Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    * for massive data streams" — Google's resampling scheme for data
    * too large to permute): classical bootstrap resampling needs n
    * draws WITH replacement from n rows — impossible row-local — but
    * each row's multiplicity in a resample is asymptotically
    * Poisson(1), which CAN be drawn row-locally. Each of `replicas`
    * resamples weights every row by an independent Poisson(1) draw;
    * replica means then give the sampling distribution, and the
    * [2.5%, 97.5%] replica quantiles the 95% CI of the mean.
    *
    * Determinism: the draw is integer inverse-CDF over the portable
    * hash of (replica, row id) against CDF thresholds computed ONCE
    * and embedded in both engines (same discipline as the DP geometric
    * mechanism); truncation at k = 6 drops 1e-4 of mass. Values are
    * integer (cents-style) so replica sums are exact longs; each
    * replica mean is ONE double division.
    *
    * Scale shape: the explode is ×replicas map volume, but the
    * groupBy(replica) partial-aggregates to `replicas` rows per
    * partition before the shuffle — the statistic ships, the data
    * never does. The quantile runs over the `replicas`-row frame.
    * Returns one row: n, point, ci_lo, ci_hi (value units, 6 dp),
    * n_replicas. */
  def bootstrapMeanCi(df: org.apache.spark.sql.DataFrame, id: Column,
                      value: Column, replicas: Int = 32)
      : org.apache.spark.sql.DataFrame = {
    require(replicas >= 8, s"need >= 8 replicas for quantiles, got $replicas")
    val rows = df.select(id.cast("string").as("__id"),
        value.cast("long").as("__v"))
      .filter(col("__id").isNotNull && col("__v").isNotNull)
      .localCheckpoint(true) // feeds the point estimate AND the resample
    // all `replicas` draws per row in ONE compiled kernel call
    // (Kernels.bootstrapRow — same "boot:<r>:<id>" md5-56 keys, same
    // inverse-CDF thresholds), positionally summed by the combinable
    // SumLongArray aggregate: the ×replicas explode + per-replica
    // concat/hash row pipeline is gone, map volume is |rows| again,
    // and the shuffle carries 2·replicas longs per partition. The
    // per-replica (Σw, Σw·v) sums are the SAME exact integers, so the
    // replica means — and the oracle hash — are unchanged.
    val sums = rows.agg(graft.functions.GraftFunctions.sumLongArray(
      graft.functions.GraftFunctions.bootstrapRow(
        col("__id"), col("__v"), replicas)).as("s"))
    val reps = sums
      .filter(size(col("s")) === 2 * replicas) // empty input -> 0-len sum
      .select(explode(sequence(lit(1), lit(replicas))).as("r"), col("s"))
      .select(element_at(col("s"), col("r")).as("sw"),
        element_at(col("s"), col("r") + lit(replicas)).as("swv"))
      .filter(col("sw") > 0)
      .select((col("swv").cast("double") / col("sw").cast("double")).as("m"))
    val ci = reps.agg(
      round(percentile(col("m"), lit(0.025)), 6).as("ci_lo"),
      round(percentile(col("m"), lit(0.975)), 6).as("ci_hi"),
      count(lit(1)).as("n_replicas"))
    rows.agg(count(lit(1)).as("n"),
        round(sum(col("__v")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("point"))
      .crossJoin(broadcast(ci))
  }

  /** DuckDB replay of [[bootstrapMeanCi]] over `srcCte` (columns id0,
    * v0); final CTE `__boot_out`. */
  def bootstrapMeanCiSql(srcCte: String, replicas: Int = 32): String = {
    val cases = graft.functions.Kernels.poissonThresholds56.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""__boot_rows AS (
      SELECT CAST(id0 AS VARCHAR) AS id, CAST(v0 AS BIGINT) AS v
      FROM $srcCte WHERE id0 IS NOT NULL AND v0 IS NOT NULL),
    __boot_w AS (
      SELECT rr.r, v, (CASE $cases ELSE 6 END) AS w
      FROM __boot_rows CROSS JOIN (
        SELECT unnest(range($replicas)) AS r) rr
      CROSS JOIN LATERAL (SELECT ${hashValueSql(
        "'boot' || ':' || CAST(rr.r AS VARCHAR) || ':' || id")} AS u) h),
    __boot_reps AS (
      SELECT CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
      FROM __boot_w GROUP BY r HAVING SUM(w) > 0),
    __boot_out AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM __boot_rows) AS n,
        (SELECT ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         FROM __boot_rows) AS point,
        ROUND(percentile_cont(0.025) WITHIN GROUP (ORDER BY m), 6) AS ci_lo,
        ROUND(percentile_cont(0.975) WITHIN GROUP (ORDER BY m), 6) AS ci_hi,
        CAST(COUNT(*) AS BIGINT) AS n_replicas
      FROM __boot_reps)"""
  }
}
