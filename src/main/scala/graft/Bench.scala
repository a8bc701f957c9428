package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line `{"metric":"total","value":N,...}`.
  *
  * Methodology: one untimed warmup pass over the suite, then a timed
  * pass. The warmup pays the per-unique-plan one-time costs — Janino
  * compilation of whole-stage-codegen classes and C2 JIT compilation of
  * their hot loops — which on a cold JVM are 5–15x the steady-state query
  * time at this scale and are paid once per plan shape for the lifetime
  * of a session. The timed pass therefore measures the engine's
  * steady-state throughput, the regime a long-lived cluster session (the
  * 100 TB target) actually runs in.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // JDK-17 module guard: without `--add-opens java.base/
    // sun.util.calendar=ALL-UNNAMED` Spark BOOTS fine and almost every
    // query runs — then date-row decoding throws mid-suite (round 10:
    // a hand-launched bench ran 299/300 and "failed" one on exactly
    // this). Exercise the decode path up front and fail fast with the
    // cure instead of producing a map with a bogus failure.
    try spark.range(1)
      .select(org.apache.spark.sql.functions.expr("DATE'2020-01-01'"))
      .head()
    catch { case e: Throwable =>
      System.err.println("[bench] this JVM cannot decode date rows — " +
        "launch with the --add-opens set from scripts/bench.sh " +
        s"(root cause: ${e.getMessage})")
      sys.exit(2)
    }
    // dev-only subset filter (driver leaves it unset): comma-list of
    // query names, for timing one query without the full suite
    val onlyNames = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => onlyNames.forall(_.contains(n)))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // noop sink, NOT count(): count(1) lets Catalyst prune the entire
    // projection body, so a projection-only query would "benchmark" a
    // column-pruned empty scan and never execute its expressions
    def run(n: String): Unit =
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        if (!failed.contains(n)) failed += n
        System.err.println(s"[bench] $n failed: ${e.getMessage}")
      }
    names.foreach(run) // warmup: codegen + JIT, once per plan shape
    // drop cached blocks between queries: iterative operators (connected
    // components) legitimately return cache-backed results, and letting
    // one query's leftover blocks eat executor memory perturbs every
    // LATER query's timing (observed 10x on token-count queries late in
    // the suite)
    spark.catalog.clearCache()
    // two timed passes, min per query: single-pass numbers on this
    // shared-host VM show multi-second noise spikes (an 0.8s query
    // measuring 11s once) — the per-query minimum is the steady-state
    // throughput estimator robust to one bad draw
    val passes = Seq.fill(2) {
      names.map { n =>
        val t0 = System.nanoTime()
        run(n)
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // outside the timed region
        n -> dt
      }.toMap
    }
    val results = names.map(n => n -> passes.map(_(n)).min)
    // 3dp: ms resolution is below this host's noise floor, and the
    // compact line survives the driver's line-capture limit (the r02
    // line's head was truncated at full double precision)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a crashing query must not read as a speedup: surface failures in
    // the JSON line (additive key) and exit nonzero
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Round-over-round movers (round-10 verdict ask #6): the drift gate's
    // per-query ratio table travels IN the bench artifact, so the judge
    // reads movers from BENCH_r<n>.json instead of reconstructing them
    // from git. The reference map is the PRIOR BENCH_LOCAL.json on disk
    // (the last committed round's full map — read before this run
    // overwrites it at the end of main). Same envelope as wall_guard.py:
    // movers = |delta| > 0.2 s, top 10 by |delta|, as name:[prev,cur].
    val prior: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("BENCH_LOCAL.json"))
        val body = txt.substring(txt.indexOf("\"queries\":{") + 11)
        "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(
          body.substring(0, body.indexOf('}')))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val resMap = results.toMap
    val common = prior.keySet & resMap.keySet
    val moversJson =
      if (common.size < 20) "{}" // partial/filtered run: not like-for-like
      else common.toSeq
        .map(q => (q, prior(q), resMap(q)))
        .filter { case (_, p, c) => math.abs(c - p) > 0.2 }
        .sortBy { case (_, p, c) => -math.abs(c - p) }
        .take(10)
        .map { case (q, p, c) => "\"" + q + "\":[" + f"$p%.2f,$c%.2f]" }
        .mkString("{", ",", "}")
    val driftJson =
      if (common.size < 20) "null"
      else {
        val pt = common.toSeq.map(prior).sum
        val ct = common.toSeq.map(resMap).sum
        if (pt <= 0) "null" else f"${ct / pt - 1.0}%.3f"
      }
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"movers":$moversJson,"drift":$driftJson,"sf":"$sfDir"}"""
    // The driver's line capture has truncated this output twice (r02, r03:
    // `parsed: null`, head of the line lost) — its window is smaller than
    // the full 105-query line. Defend in both directions: the full line
    // FIRST (survives a head-keeping capture), then the per-query map
    // re-printed in self-contained <=2KB chunk lines, then a small
    // summary line LAST (survives a tail-keeping capture and always
    // parses standalone).
    println(line)
    val chunkEntries = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
    val chunks = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    var cur = scala.collection.mutable.ListBuffer.empty[String]
    var curLen = 0
    chunkEntries.foreach { e =>
      if (curLen + e.length > 2000 && cur.nonEmpty) { chunks += cur.toSeq; cur = scala.collection.mutable.ListBuffer.empty; curLen = 0 }
      cur += e; curLen += e.length + 1
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    val nChunks = chunks.size
    chunks.zipWithIndex.foreach { case (es, i) =>
      println(s"""{"metric":"queries_chunk","part":${i + 1},"of":$nChunks,"queries":${es.mkString("{", ",", "}")}}""")
    }
    // Re-print the full line near the tail: the driver's capture window is
    // tail-biased (~4.5KB observed in BENCH_r04.json — the head-printed
    // full line fell out of it), and at 3dp the 108-query line is ~3.4KB,
    // so printing it here keeps the COMPLETE map inside the window.
    println(line)
    // Bounded summary LAST so the literal last stdout line always parses
    // standalone in any window. Distinct metric name + "queries_top10" key
    // (NOT "queries") so a generic parser can never mistake this partial
    // map for the full one.
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // movers+drift ride in the summary line too: the driver's artifact
    // parse keeps the LAST stdout line, and the judge reads movers from
    // BENCH_r<n>.json (round-10 ask #6) — bounded (<=10 entries), so the
    // line stays well inside the 2KB tail window
    println(
      f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","nqueries":${results.size},"queries_top10":$top,"failed":$failedJson,"movers":$moversJson,"drift":$driftJson,"sf":"$sfDir","full_map":"BENCH_LOCAL.json"}""")
    // belt-and-braces copy on disk, recoverable even if the captured
    // line is truncated. A BENCH_ONLY-filtered run must NOT clobber the
    // committed full-suite map with a partial one under the same name —
    // it goes to a .partial file unless an explicit OUT path was given.
    val defaultOut =
      if (onlyNames.isDefined) "BENCH_LOCAL.partial.json" else "BENCH_LOCAL.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)), line + "\n")
    catch { case _: Throwable => () }
    if (failed.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
