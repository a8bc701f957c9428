package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-tier operators: the knobs a 100 TB deployment reaches for when
  * the default shuffle shapes stop being enough. None of these exist in
  * the reference (its data fits one warehouse node); they are the
  * idiomatic Spark counterparts required by the north star.
  */
object Scale {

  /** Spread a frame across the session's cores BEFORE a CPU-heavy
    * per-row kernel when — and only when — its current partitioning is
    * too narrow to use them.
    *
    * Why conditional: at the 100 TB target the scan itself provides
    * thousands of input splits, so the repartition must NOT be planted
    * unconditionally (it would add a full-payload exchange for
    * nothing — this helper is then a plan-time no-op). At test scale a
    * table arrives as ONE parquet split, and every downstream per-row
    * kernel (shingling, signature computation, pair verification)
    * serializes onto a single core — byte-based AQE coalescing keeps
    * the frame at one partition because the BYTES are tiny while the
    * CPU per row is not. The partition-count probe is plan-time only
    * (no job runs); the spread key keeps the exchange deterministic
    * (round-robin would resort — see the repartition(n) note in the
    * optimization guide §2.5).
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.min(p, 16)) df
    else df.repartition(p, key)
  }

  /** Salted equi-join for skewed build sides.
    *
    * When a handful of hot keys dominate `left` (e.g. one LGA holds half
    * the listings), the shuffle partition owning a hot key becomes the
    * straggler. Salting splits each hot key into `factor` sub-keys:
    * the skewed side gets a deterministic salt from its row hash, the
    * small side is replicated `factor` times — turning one straggler
    * partition into `factor` even ones at the cost of an `factor`-times
    * replicated (still bounded) build side.
    *
    * AQE's skew-join handles the sort-merge case automatically; explicit
    * salting remains the tool for aggregate-then-join shapes and for
    * engines/joins AQE can't split. Results are identical to the plain
    * join (spec-checked).
    *
    * @param saltCols columns of `left` whose hash spreads rows; must be
    *                 stable within a row (any non-key payload works)
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 factor: Int, saltCols: Seq[Column], joinType: String = "inner"): DataFrame = {
    require(factor > 0, "factor must be positive")
    // right/full outer would emit `factor` copies of every unmatched
    // RIGHT row (one per salt replica) — not equal to the plain join
    val normalized = joinType.toLowerCase.replace("_", "")
    require(!Set("right", "rightouter", "full", "fullouter", "outer").contains(normalized),
      s"saltedJoin: $joinType would duplicate unmatched right-side rows " +
        "(the right side is replicated per salt); salt the other side instead")
    val salted = left.withColumn("__salt", pmod(hash(saltCols: _*), lit(factor)))
    val replicated = right.withColumn("__salt",
      explode(array((0 until factor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Contiguous global row numbering (1..n in `key` order) WITHOUT the
    * single-task shuffle that `row_number() OVER (ORDER BY key)`
    * plans: an empty window partition spec sends every row to ONE
    * reducer, the canonical scale wall (shard-id assignment, stable
    * example ids, and resumable export offsets all need exactly this
    * numbering at corpus scale).
    *
    * Two-pass formulation: (1) range-repartition by `key`, so
    * partition i holds a contiguous key range and partitions are
    * ordered — then number rows per partition with a window
    * PARTITIONED by the range-partition id (parallelism = #partitions,
    * no global funnel); (2) per-partition row counts (a #partitions-row
    * aggregate) turn into starting offsets via a prefix sum over that
    * tiny frame, broadcast-joined back. Total cost: one range shuffle +
    * one pid shuffle + a broadcast — vs the naive plan's all-rows-to-
    * one-task sort.
    *
    * The ranged frame is localCheckpointed so the numbering branch and
    * the counting branch read the SAME materialized partition
    * assignment (range bounds come from sampling; two independent
    * executions are not contractually identical).
    *
    * `key` must be a total order (unique) for a deterministic result —
    * ties across a partition boundary would otherwise split
    * arbitrarily. Appends `global_rn`. */
  def globalRowNumber(df: DataFrame, key: String, parts: Int = 32): DataFrame =
    globalRowNumberBy(df, Seq(col(key)), parts)

  /** Multi-key form of [[globalRowNumber]]: `keys` together must be a
    * total order. */
  def globalRowNumberBy(df: DataFrame, keys: Seq[Column],
                        parts: Int = 32): DataFrame = {
    require(parts > 0, s"need parts > 0, got $parts")
    val ranged = df.repartitionByRange(parts, keys: _*)
      .localCheckpoint(true)
      .withColumn("__pid", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(keys: _*)
    val local = ranged.withColumn("__lrn", row_number().over(w))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // #partitions rows: the ONLY frame the prefix-sum window sees
    val offsets = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn("global_rn", col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  /** Global DENSE rank (1..#distinct-keys) without a single-task sort
    * AND without the distinct→row_number→join-back detour: the same
    * range-partition trick as [[globalRowNumberBy]], but the
    * per-partition window is dense_rank and the offsets are
    * per-partition DISTINCT-key counts. Range partitioning sends every
    * row of one key value to one partition, so per-partition dense
    * ranks + a distinct-count prefix sum compose to the exact global
    * dense rank — one range shuffle + a broadcast, no join back
    * against a distinct frame (this sits inside every prefix-doubling
    * round of [[Dedup.suffixSpans]], where the saved distinct + join
    * were two corpus-sized shuffles per round). Appends `dense_rn`. */
  def globalDenseRankBy(df: DataFrame, keys: Seq[Column],
                        parts: Int = 32): DataFrame = {
    // parts <= 0 leaves the partition count unpinned so AQE can
    // coalesce the range shuffle to match the actual data volume —
    // the right choice when the caller runs MANY chained ranks over
    // a frame far smaller than the cluster default would shard it
    // (prefix doubling: task-launch floors dominate otherwise)
    val ranged = (if (parts > 0) df.repartitionByRange(parts, keys: _*)
                  else df.repartitionByRange(keys: _*))
      .localCheckpoint(true)
      .withColumn("__pid", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(keys: _*)
    val local = ranged.withColumn("__ldr", dense_rank().over(w))
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid"))
      .agg(count_distinct(struct(keys: _*)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn("dense_rn", col("__ldr") + col("__off"))
      .drop("__pid", "__ldr", "__off")
  }

  /** Small-files compaction for a parquet directory — the maintenance
    * job every file-landing layer eventually needs (the reference's
    * monthly drops are one CSV per month; at 100 TB a streaming or
    * per-batch writer leaves thousands of KB-sized files, and scan cost
    * becomes file-open-bound instead of byte-bound).
    *
    * Sizes the rewrite from the ACTUAL on-disk bytes (Hadoop
    * FileSystem listing, not row counts): ceil(totalBytes/targetBytes)
    * output files via coalesce — no shuffle, each output task
    * concatenates whole input splits. The rewrite lands in `<dir>.tmp`
    * and swaps in atomically-enough for a single-writer maintenance
    * window (rename), never reading and overwriting the same path in
    * one job. Returns the output file count. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(path).toSeq
    val dataFiles = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    // a hive-partitioned layout has its files in key=val SUBDIRS; the
    // rewrite below would read THROUGH the subdirs (folding partition
    // columns into data) and write the result back flat, silently
    // destroying the layout — refuse whenever any subdirectory is
    // present, even alongside stray flat files
    require(entries.forall(!_.isDirectory),
      s"compactParquet: $dir holds partition subdirectories, not flat " +
        "files — compact each partition directory individually")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (dataFiles.size <= nOut) return dataFiles.size // already compact
    val tmp = new org.apache.hadoop.fs.Path(dir + ".tmp")
    spark.read.parquet(dir).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    val bak = new org.apache.hadoop.fs.Path(dir + ".old")
    fs.delete(bak, true)
    if (!fs.rename(path, bak))
      throw new java.io.IOException(s"compactParquet: could not move $dir aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(bak, path) // roll back
      throw new java.io.IOException(s"compactParquet: could not commit $tmp")
    }
    fs.delete(bak, true)
    nOut
  }
}
