package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-feature construction operators: encodings a training-data
  * pipeline derives from raw columns before handing rows to a trainer.
  * No counterpart in the reference (its marts stop at BI aggregates);
  * extension tier under the north star's feature-engineering ask.
  */
object Features {

  /** Leave-one-out target encoding with additive smoothing: replaces a
    * categorical column with the mean of a numeric target over the
    * OTHER rows of the same category, shrunk toward the global mean by
    * a pseudo-count prior —
    *
    *   enc_i = (S_c − t_i + m · g) / (n_c − 1 + m)
    *
    * where S_c/n_c are the category's target sum/count, g the global
    * target mean, m the prior weight. Excluding the row's own target
    * (the "leave one out") is what keeps the feature usable for
    * training: the naive per-category mean leaks each row's label into
    * its own feature. Singleton categories collapse to g exactly.
    *
    * Scale shape: category statistics come from a `groupBy(cat)`
    * aggregate — partial (map-side) combinable, output bounded by the
    * category cardinality — broadcast back to the rows (so `cat` must
    * have bounded cardinality: a user-id encode would need a shuffle
    * join instead); the global mean is
    * a 1-row aggregate broadcast by crossJoin. NOT a window over the
    * category: a window shuffles the full fact table into
    * one-task-per-category partitions and a hot category becomes a
    * straggler wall, while the aggregate+join form re-uses the fact
    * scan and bounds the joined side at |categories|.
    *
    * Sums stay in the target's exact type (decimal sums are
    * order-independent); the final encoding is computed in double and
    * rounded to 6 dp so both engines emit identical values.
    *
    * `df` must contain `cat` and `target`; rows with a NULL target or
    * NULL category are passed through with a NULL encoding (no
    * imputation surprises). Output keeps all input columns and appends
    * `enc`. */
  def targetEncodeLoo(df: DataFrame, cat: String, target: String,
                      priorWeight: Double): DataFrame = {
    require(priorWeight > 0, s"need priorWeight > 0, got $priorWeight")
    val valid = df.filter(col(cat).isNotNull && col(target).isNotNull)
    val stats = broadcast(valid.groupBy(col(cat))
      .agg(sum(col(target)).as("__s"), count(lit(1)).as("__n")))
    val global = valid.agg(
      (sum(col(target)).cast("double") / count(lit(1))).as("__g"))
    df.crossJoin(broadcast(global))
      .join(stats, Seq(cat), "left")
      .withColumn("enc",
        when(col(cat).isNotNull && col(target).isNotNull,
          round((col("__s").cast("double") - col(target).cast("double") +
            lit(priorWeight) * col("__g")) /
            (col("__n") - lit(1) + lit(priorWeight)), 6)))
      .drop("__s", "__n", "__g")
  }

  /** Per-group equi-depth (quantile) binning — the feature
    * discretization that turns a heavy-tailed numeric into `nBins`
    * roughly equal-population ordinal buckets, robust to outliers in a
    * way equal-WIDTH bins are not. Boundaries are the group's exact
    * interpolated percentiles at i/nBins; a row's bin is the number of
    * boundaries strictly below its value (0-based, so bin ∈
    * [0, nBins-1]; boundary-equal values fall into the lower bin on
    * both engines).
    *
    * Scale shape mirrors [[graft.ops.Quality]]'s winsorization: exact
    * `percentile` per BOUNDED group (the stats side stays
    * |groups|-sized and broadcasts back; the row pass is map-side).
    * Exact percentile materializes each group's values on its reducer —
    * for high-cardinality values within a group at 100 TB, swap in
    * Spark's `percentile_approx` sketch; the exact form is what the
    * oracle can replay. */
  def quantileBin(df: DataFrame, group: String, value: Column, nBins: Int,
                  binOut: String = "bin"): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
    val stats = df.groupBy(col(group))
      .agg(percentile(value, typedLit(qs)).as("__bounds"))
    df.join(broadcast(stats), Seq(group))
      .withColumn(binOut,
        size(filter(col("__bounds"), b => value > b)).cast("int"))
      .drop("__bounds")
  }

  /** One ALS user-side half-step (rank 2) — the alternating-least-
    * squares update collaborative-filtering trainers run per sweep
    * (Hu/Koren/Volinsky 2008; Spark MLlib's ALS does exactly this,
    * distributed): with item factors held FIXED, each user's factor
    * vector has the closed form  p_u = (QᵤᵀQᵤ + λI)⁻¹ Qᵤᵀ rᵤ  over the
    * items that user rated. At rank 2 the solve is a 2×2 Cramer
    * inversion — no linear-algebra library, just five per-user sums
    * and four multiplications.
    *
    * Determinism/replayability: item factors are hash-derived
    * milli-quantized values in [-1, 1] (q = [[Sampling.hashValue]] of
    * "alsq1:"/"alsq2:" + item, mod 2001, minus 1000 — the fixed-factor
    * stand-in for the previous item sweep, same discipline as the PQ
    * codebook picks), so the Gram sums A = ΣqqT and rhs b = Σ r·q are
    * EXACT integers under any partitioning, and the final Cramer
    * division is the only float op — identical IEEE arithmetic from
    * identical integers on any engine. λ enters as an integer in
    * milli² units. det > 0 always: Cauchy–Schwarz gives A12² ≤
    * A11·A22 < (A11+λ)(A22+λ) for λ > 0.
    *
    * Scale shape: ONE combinable groupBy(user) over the ratings — no
    * join at all (factors are computed in-row from the item id), no
    * window, output bounded by |users|. Integer headroom: |num| ≤
    * n_u²·R·10⁹ must stay under 2⁶³ — fine through ~5k rated items per
    * user at R ≤ 300; for denser users, drop factor precision to
    * centi. Ratings must be pre-aggregated to one row per
    * (user, item). */
  /** The hashing trick (Weinberger et al. 2009, "Feature Hashing for
    * Large Scale Multitask Learning") — fixed-width feature projection
    * without a vocabulary: each (feature-name, value) pair lands in
    * slot `hash(name) mod dim` with a ± sign from a second hash bit
    * (the signed variant, which makes collision noise zero-mean), and
    * slots sum colliding features. This is how linear/FM models train
    * over unbounded categorical spaces (clerk ids, URLs, n-grams) with
    * NO dictionary build, no fit step, and a schema that never changes
    * as the vocabulary grows — the property that matters at 100 TB,
    * where a stateful string-indexer would itself be a corpus-wide
    * shuffle and a trained artifact to version.
    *
    * Exactness: values are integers, so slot sums are exact longs; the
    * two MD5-56 hashes per feature (bucket + sign bit) are the
    * engine-portable [[Sampling]] family, so the oracle replays every
    * slot bit-for-bit. Scale shape: entirely ROW-LOCAL — two digests
    * per feature, `dim` conditional sums, zero shuffles, zero state;
    * the widest whole-stage-codegen-friendly shape there is.
    *
    * `features` maps feature-name column → integer value column
    * (categoricals encode as `name=value` with value 1 — one-hot under
    * hashing; numerics keep their magnitude). NULL names contribute
    * nothing to any slot. */
  def hashedFeatures(df: DataFrame, key: Column,
                     features: Seq[(Column, Column)], dim: Int): DataFrame = {
    require(dim >= 2 && features.nonEmpty, s"need dim >= 2 and features")
    // bucket + signed value computed ONCE per feature per row
    val cols = features.zipWithIndex.map { case ((n, v), i) =>
      val bucket = when(n.isNotNull, Sampling.hashBucket(n, dim))
      val signed = when(
        Sampling.hashValue(concat(n, lit("#s"))) % 2 === 0,
        v.cast("long")).otherwise(-v.cast("long"))
      (bucket.as(s"__b$i"), signed.as(s"__sv$i"))
    }
    val staged = df.select(
      key +: cols.flatMap { case (b, sv) => Seq(b, sv) }: _*)
    val slots = (0 until dim).map { j =>
      features.indices.map { i =>
        when(col(s"__b$i") === j, col(s"__sv$i")).otherwise(lit(0L))
      }.reduce(_ + _).as(s"f$j")
    }
    staged.select(key +: slots: _*)
  }

  /** DuckDB replay of [[hashedFeatures]]: `features` maps name-expr →
    * integer value-expr over `srcCte` (which must expose `keyCol`);
    * final CTE `__fh_out` has keyCol, f0..f{dim-1}. */
  def hashedFeaturesSql(srcCte: String, keyCol: String,
                        features: Seq[(String, String)], dim: Int): String = {
    val staged = features.zipWithIndex.map { case ((n, v), i) =>
      s"""CASE WHEN ($n) IS NOT NULL
        THEN ${Sampling.hashBucketSql(n, dim)} END AS __b$i,
      CASE WHEN ${Sampling.hashValueSql(s"($n) || '#s'")} % 2 = 0
        THEN CAST($v AS BIGINT) ELSE -CAST($v AS BIGINT) END AS __sv$i"""
    }.mkString(",\n      ")
    val slots = (0 until dim).map { j =>
      features.indices
        .map(i => s"CASE WHEN __b$i = $j THEN __sv$i ELSE 0 END")
        .mkString(" + ") + s" AS f$j"
    }.mkString(",\n      ")
    s"""__fh_staged AS (
      SELECT $keyCol, $staged FROM $srcCte),
    __fh_out AS (
      SELECT $keyCol, $slots FROM __fh_staged)"""
  }

  /** Exact ROC-AUC via the Mann–Whitney U statistic — the
    * threshold-free classifier metric every model-quality gate reports,
    * computed WITHOUT the textbook global ranking window (which would
    * shuffle the whole corpus into one task): group rows by DISTINCT
    * score with per-group positive/negative counts, one cumulative
    * window over that score-bounded frame, then
    *   AUC = (concordant + ½·tied) / (n₁·n₀)
    * with concordant = Σ_s c₁(s)·C₀(<s) and tied = Σ_s c₁(s)·c₀(s).
    * The numerator is kept as the INTEGER 2·concordant + tied, so the
    * only float op is one final division (rounded 6 dp) — bit-equal
    * across engines and partitionings, ties handled exactly (average
    * ranks), no sampling.
    *
    * Scale shape: one combinable groupBy(score), a window over the
    * DISTINCT-SCORE frame (bounded by score quantization, not rows),
    * and a 1-row reduce. Degenerate single-class inputs yield NULL.
    * Returns one row: n_pos, n_neg, tied_pairs, auc, gini. */
  def binaryAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.select(score.as("s"), label.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy(col("s"))
      .agg(count(when(col("y"), lit(1))).as("c1"),
        count(when(!col("y"), lit(1))).as("c0"))
    val cum = cells.withColumn("c0_below",
      coalesce(sum(col("c0")).over(
        Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    cum.agg(
        sum(col("c1")).cast("long").as("n_pos"),
        sum(col("c0")).cast("long").as("n_neg"),
        sum(col("c1") * col("c0")).cast("long").as("tied_pairs"),
        sum(col("c1") * col("c0_below")).cast("long").as("conc"))
      .withColumn("auc", when(col("n_pos") > 0 && col("n_neg") > 0,
        round((lit(2L) * col("conc") + col("tied_pairs")).cast("double")
          / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6)))
      .withColumn("gini", when(col("auc").isNotNull,
        round(lit(2.0) * col("auc") - lit(1.0), 6)))
      .select(col("n_pos"), col("n_neg"), col("tied_pairs"),
        col("auc"), col("gini"))
  }

  /** Histogram-based best-split search — the inner loop of every
    * gradient-boosted-tree trainer (XGBoost/LightGBM "hist" mode): bin
    * the feature, ship per-bin sufficient statistics (n, Σy), and pick
    * the threshold maximizing the SSE reduction
    *   gain(b) = Σy_L²/n_L + Σy_R²/n_R − Σy²/N
    * (the Σy² terms cancel out of the reduction, so only counts and
    * sums ship — the identity that makes distributed tree training a
    * statistics problem, not a data-movement problem). Candidate b
    * puts bins ≤ b left; empty-side candidates are skipped.
    *
    * Exactness: bin sums are exact DECIMAL, gains are micro-quantized
    * before the argmax (bin-ascending tiebreak), so the chosen split
    * is engine-stable. Scale shape: ONE combinable histogram aggregate
    * (the only corpus-sized op), prefix sums over the |bins|-row
    * frame, a 1-row winner. Returns one row: split_bin, threshold,
    * n_left, n_right, gain_micro, sse_parent.
    *
    * sse_parent contract: Σy² − (Σy)²/N in dollars², finalized as the
    * exactly-rounded INTEGER (half-away-from-zero) — all fractional
    * dollars² are dropped by design. At GBT-relevant corpus sizes the
    * SSE magnitude (~1e15 here) puts 1 dollar² below double spacing,
    * so nothing is lost; for small-magnitude y where sub-dollar² SSE
    * resolution matters, rescale y before calling. */
  def bestSplit(df: DataFrame, x: Column, y: Column,
                lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && hi > lo, s"bad split shape [$lo,$hi) x $nBins")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val width = (hi - lo) / nBins
    val binned = df.select(x.cast("double").as("__x"),
        y.cast(DecimalType(18, 2)).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("bin", least(greatest(
        floor((col("__x") - lit(lo)) / lit(width)).cast("long"), lit(0L)),
        lit(nBins - 1L)))
      // Σy² kept in exact integer CENTS²: its decimal sum exceeds 2^53
      // and DuckDB's huge-decimal→double cast is ±1 ulp (see
      // Quality.profileNumeric), so sse_parent finalizes via exact
      // integer division instead of a double subtraction
      .withColumn("__yc", (col("__y") * 100).cast(DecimalType(20, 0)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("sy"),
        sum(col("__yc") * col("__yc")).as("syy_c2"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("syl", sum(col("sy")).over(w))
    val tot = binned.agg(sum(col("n")).cast("long").as("nt"),
      sum(col("sy")).as("syt"),
      sum(col("syy_c2")).cast(DecimalType(38, 0)).as("syyt_c2"))
    val gains = cum.crossJoin(broadcast(tot))
      .filter(col("nl") > 0 && col("nl") < col("nt")) // non-empty sides
      .withColumn("gain_micro", round((
        col("syl").cast("double") * col("syl").cast("double")
          / col("nl").cast("double")
          + (col("syt") - col("syl")).cast("double")
            * (col("syt") - col("syl")).cast("double")
            / (col("nt") - col("nl")).cast("double")
          - col("syt").cast("double") * col("syt").cast("double")
            / col("nt").cast("double")) * lit(1e6)).cast("long"))
    gains
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gain_micro").desc, col("bin"))))
      .filter(col("rk") === 1)
      .select(col("bin").as("split_bin"),
        round(lit(lo) + (col("bin") + 1).cast("double") * lit(width), 6)
          .as("threshold"),
        col("nl").cast("long").as("n_left"),
        (col("nt") - col("nl")).cast("long").as("n_right"),
        col("gain_micro"),
        // sse = Σy² − (Σy)²/n in dollars², finalized as the exactly-
        // rounded integer (2·num + D) div (2·D) with num = nt·Σy²_c −
        // (Σy_c)² in cents² and D = nt·10⁴ — at ~1e15 dollars² the old
        // 6dp round was below double spacing anyway, and the integer
        // path is bit-identical across engines at any magnitude
        expr("CAST((2 * (nt * syyt_c2" +
          " - CAST(syt * 100 AS DECIMAL(38,0)) * CAST(syt * 100 AS DECIMAL(38,0)))" +
          " + nt * 10000) div (2 * nt * 10000) AS DOUBLE)")
          .as("sse_parent"))
  }

  /** DuckDB replay of [[bestSplit]] over `srcCte` (columns x, y);
    * final CTE `__split_out`. */
  def bestSplitSql(srcCte: String, lo: Double, hi: Double,
                   nBins: Int): String = {
    val width = (hi - lo) / nBins
    def wlit(v: Double) = s"CAST('${java.lang.Double.toString(v)}' AS DOUBLE)"
    s"""__split_bins AS (
      SELECT LEAST(GREATEST(CAST(floor((CAST(x AS DOUBLE) - ${wlit(lo)})
            / ${wlit(width)}) AS BIGINT), 0), ${nBins - 1}) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(y AS DECIMAL(18,2))) AS sy,
        SUM(CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT)
          * CAST(CAST(y AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS syy_c2
      FROM $srcCte WHERE x IS NOT NULL AND y IS NOT NULL
      GROUP BY 1),
    __split_cum AS (
      SELECT bin, n, sy,
        SUM(n) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
        SUM(sy) OVER (ORDER BY bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS syl
      FROM __split_bins),
    __split_tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, SUM(sy) AS syt,
        SUM(syy_c2) AS syyt_c2
      FROM __split_bins),
    __split_gains AS (
      SELECT bin, nl, nt, syt, syyt_c2,
        CAST(ROUND((CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)
            / CAST(nl AS DOUBLE)
          + CAST(syt - syl AS DOUBLE) * CAST(syt - syl AS DOUBLE)
            / CAST(nt - nl AS DOUBLE)
          - CAST(syt AS DOUBLE) * CAST(syt AS DOUBLE)
            / CAST(nt AS DOUBLE)) * 1000000) AS BIGINT) AS gain_micro
      FROM __split_cum CROSS JOIN __split_tot
      WHERE nl > 0 AND nl < nt),
    __split_out AS (
      SELECT bin AS split_bin,
        ROUND(${wlit(lo)} + CAST(bin + 1 AS DOUBLE) * ${wlit(width)}, 6)
          AS threshold,
        CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
        gain_micro,
        CAST((2 * (nt * syyt_c2
            - CAST(syt * 100 AS HUGEINT) * CAST(syt * 100 AS HUGEINT))
          + nt * 10000) // (2 * CAST(nt AS HUGEINT) * 10000) AS DOUBLE)
          AS sse_parent
      FROM __split_gains
      QUALIFY ROW_NUMBER() OVER (ORDER BY gain_micro DESC, bin) = 1)"""
  }

  /** Reliability diagram + Expected Calibration Error — the companion
    * to [[binaryAuc]]: AUC measures ranking, calibration measures
    * whether the score's VALUE means what it claims (a 0.8 bucket
    * should be ~80% positive). Scores in [-1, 1] map to predicted
    * probability p = (s+1)/2, bucketed into `nBins` equal-width
    * confidence bins; per bin the empirical positive rate, mean
    * confidence, and gap, all micro-quantized from exact integer
    * counts and micro-sums;
    *   ECE = Σ_b (n_b/N)·|emp_b − conf_b|
    * is emitted (micro) on every row. One combinable groupBy + a
    * 1-row reduce broadcast back — nothing corpus-sized after the
    * scan. Bin = floor(p·nBins) clamped to the top bin (p = 1). */
  def calibrationBins(df: DataFrame, score: Column, label: Column,
                      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"need nBins >= 2, got $nBins")
    val rows = df.select(score.as("s"), label.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .withColumn("p_micro",
        round((col("s") + lit(1.0)) / lit(2.0) * lit(1e6)).cast("long"))
      .withColumn("bin", least(
        floor(col("p_micro") * nBins / lit(1000000L)).cast("long"),
        lit(nBins - 1L)))
    val bins = rows.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(col("y"), lit(1))).as("n_pos"),
        sum(col("p_micro")).as("conf_sum_micro"))
      .withColumn("emp_micro",
        round(col("n_pos").cast("double") / col("n").cast("double") * lit(1e6))
          .cast("long"))
      .withColumn("conf_micro",
        round(col("conf_sum_micro").cast("double") / col("n").cast("double"))
          .cast("long"))
      .withColumn("gap_micro", abs(col("emp_micro") - col("conf_micro")))
      .localCheckpoint(true) // feeds the ECE reduce AND the output
    val ece = bins.agg(floor(sum(col("n") * col("gap_micro"))
        / sum(col("n"))).cast("long").as("ece_micro"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"), col("emp_micro"),
        col("conf_micro"), col("gap_micro"), col("ece_micro"))
  }

  /** DuckDB replay of [[calibrationBins]] over `srcCte` (columns s, y);
    * final CTE `__cal_out`. */
  def calibrationBinsSql(srcCte: String, nBins: Int = 10): String =
    s"""__cal_rows AS (
      SELECT CAST(ROUND((s + CAST('1.0' AS DOUBLE)) / CAST('2.0' AS DOUBLE)
          * 1000000) AS BIGINT) AS p_micro, y
      FROM $srcCte WHERE s IS NOT NULL AND y IS NOT NULL),
    __cal_bins AS (
      SELECT bin, n, n_pos,
        CAST(ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1000000)
          AS BIGINT) AS emp_micro,
        CAST(ROUND(CAST(conf_sum_micro AS DOUBLE) / CAST(n AS DOUBLE))
          AS BIGINT) AS conf_micro
      FROM (
        SELECT LEAST(CAST(floor(p_micro * $nBins / 1000000) AS BIGINT),
            ${nBins - 1}) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(CASE WHEN y THEN 1 END) AS BIGINT) AS n_pos,
          CAST(SUM(p_micro) AS BIGINT) AS conf_sum_micro
        FROM __cal_rows GROUP BY 1)),
    __cal_out AS (
      SELECT bin, n, n_pos, emp_micro, conf_micro,
        abs(emp_micro - conf_micro) AS gap_micro,
        (SELECT CAST(floor(CAST(SUM(n * abs(emp_micro - conf_micro)) AS DOUBLE)
            / CAST(SUM(n) AS DOUBLE)) AS BIGINT)
         FROM __cal_bins) AS ece_micro
      FROM __cal_bins)"""

  /** DuckDB replay of [[binaryAuc]] over `srcCte` (columns s, y). */
  def binaryAucSql(srcCte: String): String =
    s"""__auc_cells AS (
      SELECT s, CAST(COUNT(CASE WHEN y THEN 1 END) AS BIGINT) AS c1,
        CAST(COUNT(CASE WHEN NOT y THEN 1 END) AS BIGINT) AS c0
      FROM $srcCte WHERE s IS NOT NULL AND y IS NOT NULL
      GROUP BY 1),
    __auc_cum AS (
      SELECT s, c1, c0,
        COALESCE(SUM(c0) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0_below
      FROM __auc_cells),
    __auc_out AS (
      SELECT n_pos, n_neg, tied_pairs, auc,
        CASE WHEN auc IS NOT NULL
          THEN ROUND(CAST('2.0' AS DOUBLE) * auc - CAST('1.0' AS DOUBLE), 6)
        END AS gini
      FROM (
        SELECT n_pos, n_neg, tied_pairs,
          CASE WHEN n_pos > 0 AND n_neg > 0 THEN
            ROUND(CAST(2 * conc + tied_pairs AS DOUBLE)
              / CAST(2 * n_pos * n_neg AS DOUBLE), 6) END AS auc
        FROM (
          SELECT CAST(SUM(c1) AS BIGINT) AS n_pos,
            CAST(SUM(c0) AS BIGINT) AS n_neg,
            CAST(SUM(c1 * c0) AS BIGINT) AS tied_pairs,
            CAST(SUM(c1 * c0_below) AS BIGINT) AS conc
          FROM __auc_cum)))"""

  def alsUserStep(ratings: DataFrame, user: String, item: String,
                  rating: Column, lambdaMilli2: Long = 100000L): DataFrame = {
    require(lambdaMilli2 > 0, "ALS needs lambda > 0 (det > 0 proof)")
    def qm(tag: String) =
      Sampling.hashValue(concat_ws(":", lit(tag), col(item).cast("string"))) %
        2001 - 1000
    val lam = lit(lambdaMilli2)
    val f = ratings
      .filter(col(user).isNotNull && col(item).isNotNull && rating.isNotNull)
      .select(col(user), rating.cast("long").as("__r"),
        qm("alsq1").as("__q1"), qm("alsq2").as("__q2"))
    f.groupBy(col(user))
      .agg(count(lit(1)).as("n_items"),
        sum(col("__q1") * col("__q1")).as("a11"),
        sum(col("__q1") * col("__q2")).as("a12"),
        sum(col("__q2") * col("__q2")).as("a22"),
        sum(col("__r") * col("__q1")).as("b1"),
        sum(col("__r") * col("__q2")).as("b2"))
      .withColumn("det",
        (col("a11") + lam) * (col("a22") + lam) - col("a12") * col("a12"))
      .select(col(user), col("n_items"),
        (((col("a22") + lam) * col("b1") - col("a12") * col("b2"))
          .cast("double") / col("det").cast("double") * lit(1000.0)).as("p1"),
        (((col("a11") + lam) * col("b2") - col("a12") * col("b1"))
          .cast("double") / col("det").cast("double") * lit(1000.0)).as("p2"))
  }

  /** DuckDB CTE chain replaying [[alsUserStep]] over `srcCte` (columns
    * u, it, r — r already integral); final CTE `__als_out` has
    * (u, n_items, p1, p2). */
  def alsUserStepSql(srcCte: String, lambdaMilli2: Long = 100000L): String = {
    def qm(tag: String) =
      s"${Sampling.hashValueSql(s"'$tag:' || CAST(it AS VARCHAR)")} % 2001 - 1000"
    val L = lambdaMilli2
    s"""__als_f AS (
      SELECT u, CAST(r AS BIGINT) AS r,
        ${qm("alsq1")} AS q1, ${qm("alsq2")} AS q2
      FROM $srcCte
      WHERE u IS NOT NULL AND it IS NOT NULL AND r IS NOT NULL),
    __als_s AS (
      SELECT u, COUNT(*) AS n_items,
        SUM(q1*q1) AS a11, SUM(q1*q2) AS a12, SUM(q2*q2) AS a22,
        SUM(r*q1) AS b1, SUM(r*q2) AS b2
      FROM __als_f GROUP BY 1),
    __als_out AS (
      SELECT u, n_items,
        CAST((a22 + $L) * b1 - a12 * b2 AS DOUBLE)
          / CAST((a11 + $L) * (a22 + $L) - a12 * a12 AS DOUBLE)
          * CAST(1000 AS DOUBLE) AS p1,
        CAST((a11 + $L) * b2 - a12 * b1 AS DOUBLE)
          / CAST((a11 + $L) * (a22 + $L) - a12 * a12 AS DOUBLE)
          * CAST(1000 AS DOUBLE) AS p2
      FROM __als_s)"""
  }
}
