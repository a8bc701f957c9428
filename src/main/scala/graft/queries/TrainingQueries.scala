package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.ops.{Dedup, Graph, Sampling, Scale, Similarity, TextOps}
import graft.streaming.EventStream

/** Round-6 training-data-pipeline registry entries: duplicated-span
  * detection (the suffix-dedup output shape of Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better"),
  * DSIR-style importance resampling (Xie et al. 2023, "Data Selection
  * for Language Models via Importance Resampling"), Matryoshka-style
  * prefix-dimension retrieve-then-rerank (Kusupati et al. 2022),
  * per-dimension embedding whitening, Hilbert-curve layout locality
  * vs Z-order (the liquid-clustering argument, measured), and
  * zone-map file pruning (the min/max-statistics story every
  * table format tells — measured on a sorted vs hashed layout).
  *
  * Same disciplines as the rest of the extension tier: every compared
  * float is fixed-point-quantized from exact integers or produced by
  * an identical IEEE expression tree on both engines; every integer
  * SUM in the oracle SQL is CAST to BIGINT (README: driver-compare
  * contract); no array/struct output columns.
  */
object TrainingQueries {

  // ---------------------------------------------------------------
  // x_dedup_dup_spans
  // ---------------------------------------------------------------

  /** Duplicated 16-token spans merged into maximal per-document
    * islands — the *output shape* of suffix-array training-data dedup
    * (Lee et al. 2021): not "is this doc a dup" but "which exact span
    * of this doc also occurs elsewhere", the unit a span-removal pass
    * consumes.
    *
    * Scale shape: the 16-gram enumeration is a per-row kernel over the
    * token array (zero shuffle, byte-linear); grams travel as 56-bit
    * digests (bounded shuffle bytes, the suite hash kernel — the
    * oracle replays the same digest, so hash collisions, if any,
    * affect both sides identically); the dup filter is one combinable
    * count; island-merging windows partition BY DOCUMENT, so window
    * state is bounded by document length at any corpus size. */
  private val x_dedup_dup_spans = Q(
    "x_dedup_dup_spans",
    (s, d) => {
      val L = 16
      val toks = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= L)
      val grams = toks
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, size(t) - $L)," +
            s" i -> array_join(slice(t, i + 1, $L), ' '))"))
          .as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          Sampling.hashValue(col("g")).as("h"))
      val dupH = grams.groupBy(col("h"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .select(col("h"))
      val hits = grams.join(dupH, "h").select(col("doc_id"), col("pos"))
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, 0)
      hits
        .withColumn("prev_end", max(col("pos") + lit(L - 1)).over(wPrev))
        .withColumn("brk",
          when(col("prev_end").isNull || col("pos") > col("prev_end"), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(wRun))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("span_start"),
          max(col("pos")).as("max_pos"),
          count(lit(1)).as("n_grams"))
        .select(col("doc_id"), col("island"), col("span_start"),
          (col("max_pos") + (L - 1)).as("span_end"),
          (col("max_pos") + (L - 1) - col("span_start") + 1).as("span_tokens"),
          col("n_grams"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id, ${TextOps.tokensSql("text")} AS t
        FROM documents
        WHERE text IS NOT NULL AND len(${TextOps.tokensSql("text")}) >= 16),
      g AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
          ${Sampling.hashValueSql("array_to_string(t[u.i + 1: u.i + 16], ' ')")} AS h
        FROM d, unnest(range(0, len(t) - 15)) AS u(i)),
      dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) > 1),
      hits AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
      marked AS (
        SELECT doc_id, pos,
          MAX(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM hits),
      islands AS (
        SELECT doc_id, pos,
          CAST(SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
            THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS island
        FROM marked)
      SELECT doc_id, island, MIN(pos) AS span_start,
        MAX(pos) + 15 AS span_end,
        MAX(pos) + 15 - MIN(pos) + 1 AS span_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_grams
      FROM islands GROUP BY 1, 2"""))

  // ---------------------------------------------------------------
  // x_dedup_suffix_spans
  // ---------------------------------------------------------------

  /** EXACT longest-duplicated-substring spans via distributed suffix
    * ordering (prefix doubling + adjacency LCP descent — Manber–Myers
    * re-expressed as fixed-round joins; see Dedup.suffixSpans) — the
    * suffix-array complement to the fixed-gram approximation above:
    * x_dedup_dup_spans can only say "a 16-gram here repeats"; this
    * measures the true duplicated span length, the quantity Lee et
    * al. 2021 threshold on. Top-20 spans ≥ 8 tokens, both engines
    * rebuilding the whole suffix order independently (md5 alphabet,
    * dense ranks, −1 end sentinels, final remaining-length clamp). */
  private val x_dedup_suffix_spans = Q(
    "x_dedup_suffix_spans",
    (s, d) => graft.ops.Dedup.suffixSpans(
      Tables.documents(s, d), col("doc_id"), col("text")),
    Some(graft.ops.Dedup.suffixSpansSql(
      "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")))

  // ---------------------------------------------------------------
  // x_graph_louvain_move
  // ---------------------------------------------------------------

  /** One SYNCHRONOUS Louvain local-move phase over the
    * customer–supplier order graph, starting from the nation
    * partition (the modularity query's communities): every node
    * evaluates the modularity gain of moving to each NEIGHBORING
    * community against staying, all moves applied simultaneously —
    * the parallel-Louvain formulation (Staudt & Meyerhenke's PLM;
    * classic sequential Louvain is visit-order-dependent and thus
    * not engine-replayable). Gains are compared as the EXACT integer
    * S-scaled form: move score(C) = S·k_i,in(C) − k_i·Σtot(C), stay
    * score = S·k_i,in(D) − k_i·(Σtot(D) − k_i) — no floats anywhere;
    * a node moves iff its best candidate STRICTLY beats staying
    * (ties → stay; candidate ties → smaller community label).
    *
    * Scale shape: the symmetrized edge list is streamed once into
    * the (node, neighbor-community) count (edge-linear, map-side
    * label broadcast); degrees are one node-sized groupBy; Σtot is
    * ≤|C| rows broadcast back. Output is the bounded from→to move
    * matrix (≤|C|²) with exact score deltas. */
  private val x_graph_louvain_move = Q(
    "x_graph_louvain_move",
    (s, d) => {
      val sym = GraphFixtures.tradeSym(s, d)
        .localCheckpoint(true) // degree pass + neighbor-community pass
      val labels = GraphFixtures.nationLabels(s, d)
        .localCheckpoint(true) // three broadcast consumers
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("k"))
        .localCheckpoint(true) // sigma pass + per-node score pass
      val sigma = broadcast(deg.join(labels, "node")
        .groupBy(col("label")).agg(sum(col("k")).as("tot")))
      val sTot = sym.agg(count(lit(1)).as("s"))
      // k_i,in(C): sym edges from each node into each neighbor community
      val kin = sym
        .join(broadcast(labels.select(col("node").as("dst"),
          col("label").as("c"))), "dst")
        .groupBy(col("src").as("node"), col("c"))
        .agg(count(lit(1)).as("kin"))
      val base = deg.join(broadcast(labels), "node")
        .withColumnRenamed("label", "from_label")
        .join(sigma.withColumnRenamed("label", "from_label")
          .withColumnRenamed("tot", "tot_d"), "from_label")
        .crossJoin(broadcast(sTot))
        .localCheckpoint(true) // stay-score side + candidate side
      val stay = base
        .join(kin.withColumnRenamed("c", "from_label")
          .withColumnRenamed("kin", "kin_d"),
          Seq("node", "from_label"), "left")
        .select(col("node"), col("from_label"), col("k"), col("s"),
          (col("s") * coalesce(col("kin_d"), lit(0L))
            - col("k") * (col("tot_d") - col("k"))).as("stay_score"))
      val cand = base.join(kin, "node")
        .filter(col("c") =!= col("from_label"))
        .join(sigma.withColumnRenamed("label", "c")
          .withColumnRenamed("tot", "tot_c"), "c")
        .select(col("node"),
          col("c"), (col("s") * col("kin") - col("k") * col("tot_c"))
            .as("cand_score"))
        .groupBy(col("node"))
        .agg(max(struct(col("cand_score"), (-col("c")).as("nc"))).as("b"))
        .select(col("node"), col("b.cand_score").as("best_score"),
          (-col("b.nc")).as("to_label"))
      val moves = stay.join(cand, Seq("node"), "left")
        .select(col("node"), col("from_label"),
          when(col("best_score") > col("stay_score"), col("to_label"))
            .otherwise(col("from_label")).as("to_label"),
          when(col("best_score") > col("stay_score"),
            col("best_score") - col("stay_score")).otherwise(lit(0L))
            .as("delta"))
      val tot = moves.agg(count(lit(1)).as("n_nodes"),
        count(when(col("to_label") =!= col("from_label"), 1)).as("n_moved"))
      moves.filter(col("to_label") =!= col("from_label"))
        .groupBy(col("from_label"), col("to_label"))
        .agg(count(lit(1)).as("n"), sum(col("delta")).as("delta_sum"))
        .crossJoin(broadcast(tot))
    },
    Some(s"""WITH ${GraphFixtures.tradeSymSql},
      ${GraphFixtures.nationLabelsSql},
      deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k
        FROM trade_sym GROUP BY 1),
      sigma AS (
        SELECT label, CAST(SUM(k) AS BIGINT) AS tot
        FROM deg JOIN labels USING (node) GROUP BY 1),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM trade_sym),
      kin AS (
        SELECT e.src AS node, l.label AS c, CAST(COUNT(*) AS BIGINT) AS kin
        FROM trade_sym e JOIN labels l ON e.dst = l.node
        GROUP BY 1, 2),
      base AS (
        SELECT d.node, d.k, lb.label AS from_label, sg.tot AS tot_d, st.s
        FROM deg d
        JOIN labels lb USING (node)
        JOIN sigma sg ON sg.label = lb.label
        CROSS JOIN st),
      stay AS (
        SELECT b.node, b.from_label, b.k, b.s,
          b.s * COALESCE(kd.kin, 0) - b.k * (b.tot_d - b.k) AS stay_score
        FROM base b
        LEFT JOIN kin kd ON kd.node = b.node AND kd.c = b.from_label),
      cand AS (
        SELECT node, best_score, to_label FROM (
          SELECT b.node,
            b.s * kn.kin - b.k * sc.tot AS best_score,
            kn.c AS to_label,
            ROW_NUMBER() OVER (PARTITION BY b.node
              ORDER BY b.s * kn.kin - b.k * sc.tot DESC, kn.c) AS rn
          FROM base b
          JOIN kin kn ON kn.node = b.node AND kn.c <> b.from_label
          JOIN sigma sc ON sc.label = kn.c) t
        WHERE rn = 1 AND best_score IS NOT NULL),
      moves AS (
        SELECT s.node, s.from_label,
          CASE WHEN c.best_score > s.stay_score THEN c.to_label
            ELSE s.from_label END AS to_label,
          CASE WHEN c.best_score > s.stay_score
            THEN c.best_score - s.stay_score ELSE 0 END AS delta
        FROM stay s LEFT JOIN cand c USING (node)),
      tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(SUM(CASE WHEN to_label <> from_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
        FROM moves)
      SELECT from_label, to_label, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(delta) AS BIGINT) AS delta_sum, n_nodes, n_moved
      FROM moves CROSS JOIN tot
      WHERE to_label <> from_label
      GROUP BY 1, 2, n_nodes, n_moved"""))

  // ---------------------------------------------------------------
  // x_curation_dsir
  // ---------------------------------------------------------------

  /** DSIR importance weights (Xie et al. 2023): score every document
    * by how target-like its hashed-unigram distribution is —
    * weight(doc) = Σ_tokens ln(p̂_target(bucket)/p̂_raw(bucket)) with
    * add-1-smoothed bucket LMs — then keep the top slice. Target here
    * is the English sub-corpus; features are md5 buckets (B = 1024),
    * the paper's hashed n-gram trick that makes the feature space
    * constant-size at any corpus scale.
    *
    * Scale shape: token explode is byte-linear; bucket counts are one
    * combinable aggregate bounded by B; the per-token score join
    * broadcasts the ≤B-row LM-ratio table (zero shuffle); the per-doc
    * sum is combinable; top-50 is TakeOrdered, not a global sort. The
    * ln is the PMI fixed-point discipline: exact-integer ratio
    * arguments (< 2^53, exact in double), ONE ln, round to micro. */
  private val x_curation_dsir = Q(
    "x_curation_dsir",
    (s, d) => {
      val B = 1024
      val toks = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .withColumn("b", Sampling.hashBucket(col("tok"), B))
      val raw = toks.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tgt = toks.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val totals = toks.agg(count(lit(1)).as("nr"),
        count(when(col("lang") === "en", 1)).as("nt"))
      val lp = raw.join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(totals))
        .select(col("b"), expr(
          s"""CAST(ROUND(LN(
             |  (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(nr + $B AS DOUBLE))
             |  / (CAST(cr + 1 AS DOUBLE) * CAST(nt + $B AS DOUBLE))
             |) * 1000000) AS BIGINT)""".stripMargin).as("lp_micro"))
      val dw = toks.join(broadcast(lp), "b")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lp_micro")).as("weight_micro"))
      val top = dw.orderBy(col("weight_micro").desc, col("doc_id")).limit(50)
      val w = Window.orderBy(col("weight_micro").desc, col("doc_id"))
      // rank window runs on the 50-row TakeOrdered result — bounded
      top.withColumn("rank", row_number().over(w).cast("int"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("weight_micro"), col("rank"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, lang, unnest(${TextOps.tokensSql("text")}) AS tok
        FROM documents WHERE text IS NOT NULL),
      tb AS (SELECT doc_id, lang, ${Sampling.hashBucketSql("tok", 1024)} AS b
        FROM toks),
      raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tb GROUP BY 1),
      tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tb
        WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr,
        CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS nt
        FROM tb),
      lp AS (
        SELECT b, CAST(ROUND(LN(
            (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE))
            / (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))
          ) * 1000000) AS BIGINT) AS lp_micro
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
      dw AS (
        SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(lp_micro) AS BIGINT) AS weight_micro
        FROM tb JOIN lp USING (b)
        GROUP BY 1, 2)
      SELECT doc_id, lang, n_tokens, weight_micro,
        CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id)
          AS INTEGER) AS rank
      FROM dw
      QUALIFY rank <= 50"""))

  // ---------------------------------------------------------------
  // x_sim_prefix_rerank
  // ---------------------------------------------------------------

  /** Matryoshka-style two-stage retrieval (Kusupati et al. 2022):
    * stage 1 scores the corpus by cosine over the FIRST 16 dimensions
    * only and keeps the top 100 candidates per query (the cheap
    * prefix pass — in an MRL layout the prefix is a separate, 4×
    * smaller column, so this stage reads a quarter of the bytes);
    * stage 2 reranks just those candidates with the full 64-dim
    * cosine. The oracle replays both stages; recall vs exact top-5 is
    * the MRL trade and is spec-pinned, while this query pins the
    * two-stage semantics bit-exactly.
    *
    * Scale shape: stage 1 is the broadcast-query corpus scan with the
    * bounded partial-aggregable top-k aggregate (no global sort, no
    * full window); stage 2 touches 10×100 rows — the candidate set is
    * broadcast back against the corpus (one more scan-linear pass in
    * this storage layout; a real serving layout point-reads them). */
  private val x_sim_prefix_rerank = Q(
    "x_sim_prefix_rerank",
    (s, d) => {
      val base = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("p", expr("slice(v, 1, 16)"))
        .withColumn("n", sqrt(GraftFunctions.dot(col("v"), col("v"))))
        .withColumn("pn", sqrt(GraftFunctions.dot(col("p"), col("p"))))
        .filter(col("n") > 0 && col("pn") > 0)
      val q = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("p").as("qp"), col("n").as("qn"), col("pn").as("qpn"))
      val cands = base.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          round(GraftFunctions.dot(col("qp"), col("p"))
            / (col("qpn") * col("pn")), 6).as("pc"))
        .groupBy(col("query_id"))
        .agg(GraftFunctions.topKBy(col("pc"), col("vec_id"), 100).as("ck"))
        .select(col("query_id"),
          explode(expr("transform(ck, c -> c.key)")).as("neighbor_id"))
      val rescored = base
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
          col("n").as("cn"))
        .join(broadcast(cands), "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
          "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(GraftFunctions.dot(col("qv"), col("cv"))
            / (col("qn") * col("cn")), 6).as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      rescored.withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
    },
    Some("""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      nz AS (
        SELECT vec_id, v, list_slice(v, 1, 16) AS p,
          sqrt(list_inner_product(v, v)) AS n,
          sqrt(list_inner_product(list_slice(v, 1, 16),
                                  list_slice(v, 1, 16))) AS pn
        FROM v),
      base AS (SELECT * FROM nz WHERE n > 0 AND pn > 0),
      qs AS (SELECT vec_id AS query_id, v AS qv, p AS qp, n AS qn, pn AS qpn
        FROM base WHERE vec_id < 10),
      s1 AS (
        SELECT query_id, c.vec_id AS neighbor_id,
          ROUND(list_inner_product(qp, c.p) / (qpn * c.pn), 6) AS pc
        FROM base c, qs WHERE query_id <> c.vec_id),
      cand AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY pc DESC, neighbor_id) AS rn
          FROM s1) WHERE rn <= 100),
      scored AS (
        SELECT cand.query_id, c.vec_id AS neighbor_id,
          ROUND(list_inner_product(q.qv, c.v) / (q.qn * c.n), 6) AS cosine
        FROM base c JOIN cand ON cand.neighbor_id = c.vec_id
        JOIN qs q ON q.query_id = cand.query_id)
      SELECT query_id, neighbor_id, cosine,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 5"""))

  // ---------------------------------------------------------------
  // x_embed_whitening
  // ---------------------------------------------------------------

  /** Shared IEEE expression fragments for the whitening query — the
    * SAME text runs in Spark (expr) and DuckDB, so both engines build
    * the identical expression tree over identical exact-integer
    * inputs: division/multiplication/sqrt are correctly-rounded IEEE
    * ops, so identical trees give bit-identical doubles. */
  private val meanRaw =
    "(CAST(sum_milli AS DOUBLE) / CAST(1000 AS DOUBLE) / n)"
  /** The OUTPUT mean rounds in exact integer micro units (half-away
    * via truncating integer division — `div` in Spark, `//` in DuckDB,
    * both truncate toward zero): mean = sum_milli/(1000·n) has
    * granularity 1/(1000·n), which at sf0.1 (n=2000) lands EXACTLY on
    * 5e-7 rounding boundaries where Spark's round (BigDecimal of the
    * shortest decimal repr) and DuckDB's round (scaled multiply) split
    * deterministically. The raw double form stays for the variance /
    * z0 internals, which are not structurally boundary-aligned. */
  private def meanMicro(divOp: String) =
    "CAST((2 * sum_milli * 1000 + (CASE WHEN sum_milli >= 0 THEN n ELSE -n END))" +
      s" $divOp (2 * n) AS DOUBLE) / 1e6"
  private val varRaw =
    "(CAST(sumsq_micro AS DOUBLE) / CAST(1000000 AS DOUBLE) / n" +
      s" - $meanRaw * $meanRaw)"
  private val z0Raw =
    s"((CAST(x0_milli AS DOUBLE) / CAST(1000 AS DOUBLE) - $meanRaw)" +
      s" / SQRT($varRaw))"

  /** Per-dimension embedding whitening stats — the feature-scaling
    * pass before any distance-based curation (k-means, SemDeDup,
    * ANN): per-dim mean/variance from milli/micro fixed-point sums,
    * plus vector 0's z-scored components as the applied transform.
    *
    * Scale shape: components are quantized per row (two array
    * kernels), summed elementwise by the SumLongArray aggregate — the
    * shuffle moves ONE 64-long buffer per task, not 64 rows per
    * vector (the posexplode/groupBy form shuffles 64× the corpus).
    * Integer sums are order-independent, so the stats are
    * bit-identical under any partitioning. */
  private val x_embed_whitening = Q(
    "x_embed_whitening",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      val q = emb.select(
        expr("transform(embedding," +
          " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("m"),
        expr("transform(embedding," +
          " x -> CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)" +
          " * 1000000) AS BIGINT))").as("sq"))
      val agg = q.agg(
        GraftFunctions.sumLongArray(col("m")).as("sm"),
        GraftFunctions.sumLongArray(col("sq")).as("ssq"),
        count(lit(1)).as("n"))
      val dims = agg
        .select(col("n"), posexplode(arrays_zip(col("sm"), col("ssq")))
          .as(Seq("i", "z")))
        .select((col("i") + 1).cast("int").as("dim"), col("n"),
          col("z.sm").as("sum_milli"), col("z.ssq").as("sumsq_micro"))
      val v0 = emb.filter(col("vec_id") === 0)
        .select(posexplode(expr("transform(embedding," +
          " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
          .as(Seq("i0", "x0_milli")))
        .select((col("i0") + 1).cast("int").as("dim"), col("x0_milli"))
      dims.join(broadcast(v0), "dim")
        .select(col("dim"), col("n"), col("sum_milli"), col("sumsq_micro"),
          expr(meanMicro("div")).as("mean"),
          expr(s"ROUND($varRaw, 6)").as("variance"),
          expr(s"CASE WHEN $varRaw <= 0 THEN NULL" +
            s" ELSE ROUND($z0Raw, 6) END").as("z0"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64),
      comp AS (
        SELECT vec_id, i.i AS dim,
          CAST(ROUND(CAST(embedding[i.i] AS DOUBLE) * 1000) AS BIGINT) AS m,
          CAST(ROUND(CAST(embedding[i.i] AS DOUBLE)
            * CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS sq
        FROM e, (SELECT unnest(range(1, 65)) AS i) i),
      agg AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(m) AS BIGINT) AS sum_milli,
          CAST(SUM(sq) AS BIGINT) AS sumsq_micro
        FROM comp GROUP BY 1),
      v0 AS (SELECT dim, m AS x0_milli FROM comp WHERE vec_id = 0)
      SELECT CAST(a.dim AS INTEGER) AS dim, n, sum_milli, sumsq_micro,
        ${meanMicro("//")} AS mean,
        ROUND($varRaw, 6) AS variance,
        CASE WHEN $varRaw <= 0 THEN NULL
          ELSE ROUND($z0Raw, 6) END AS z0
      FROM agg a JOIN v0 USING (dim)"""))

  // ---------------------------------------------------------------
  // x_scale_zonemap_pruning
  // ---------------------------------------------------------------

  /** Zone-map (min/max per file) pruning, measured on two physical
    * layouts of the same fact table — the statistics-based file
    * skipping every table format (Iceberg/Delta/Hudi manifests,
    * parquet row-group stats) lives on. 64 shards each way: `hash`
    * (the layout an unclustered ingest produces) and `range`
    * (shipdate-clustered, what Z-order/liquid clustering buys you);
    * zone = per-shard min/max shipdate-day; the probe is a 61-day
    * window. The output quantifies the story: the range layout prunes
    * ~94% of shards for this predicate, the hash layout prunes none —
    * identical bytes, 16× less scanned.
    *
    * Scale shape: shard assignment is a per-row hash / a
    * range-partitioned global row number (no single-task window);
    * zones and the per-layout rollup are two combinable aggregates.
    * At 100 TB the zone table IS the manifest: thousands of rows,
    * consulted before any scan. */
  private val x_scale_zonemap = Q(
    "x_scale_zonemap_pruning",
    (s, d) => {
      val (lo, hi) = (9600L, 9660L)
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
        .filter(col("day").isNotNull)
      val hashed = li.select(lit("hash").as("layout"),
        Sampling.hashBucket(col("l_orderkey") * 100 + col("l_linenumber"), 64)
          .as("shard"),
        col("day"))
      val tot = li.agg(count(lit(1)).as("n_total"))
      val ranged = Scale.globalRowNumberBy(li,
          Seq(col("day"), col("l_orderkey"), col("l_linenumber")))
        .crossJoin(broadcast(tot))
        .select(lit("range").as("layout"),
          expr("CAST((global_rn - 1) * 64 DIV n_total AS BIGINT)").as("shard"),
          col("day"))
      val zones = hashed.unionByName(ranged)
        .groupBy(col("layout"), col("shard"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"),
          count(lit(1)).as("n_rows"),
          count(when(col("day").between(lo, hi), 1)).as("n_match"))
      val pruned = col("mx") < lo || col("mn") > hi
      zones.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_shards"),
          count(when(pruned, 1)).as("n_pruned"),
          sum(col("n_rows")).as("rows_total"),
          coalesce(sum(when(!pruned, col("n_rows"))), lit(0L))
            .as("rows_scanned"),
          sum(col("n_match")).as("rows_match"))
        .withColumn("scan_frac",
          round(col("rows_scanned").cast("double") / col("rows_total"), 6))
    },
    Some(s"""WITH li AS (
        SELECT l_orderkey, l_linenumber,
          CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
            AS BIGINT) AS day
        FROM lineitem WHERE l_shipdate IS NOT NULL),
      h AS (SELECT 'hash' AS layout,
        ${Sampling.hashBucketSql("l_orderkey * 100 + l_linenumber", 64)}
          AS shard, day FROM li),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM li),
      r AS (
        SELECT 'range' AS layout,
          CAST((ROW_NUMBER() OVER (ORDER BY day, l_orderkey, l_linenumber)
            - 1) * 64 // n_total AS BIGINT) AS shard,
          day
        FROM li CROSS JOIN tot),
      zones AS (
        SELECT layout, shard, MIN(day) AS mn, MAX(day) AS mx,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(CASE WHEN day BETWEEN 9600 AND 9660 THEN 1 END)
            AS BIGINT) AS n_match
        FROM (SELECT * FROM h UNION ALL SELECT * FROM r)
        GROUP BY 1, 2),
      per AS (
        SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_shards,
          CAST(COUNT(CASE WHEN mx < 9600 OR mn > 9660 THEN 1 END)
            AS BIGINT) AS n_pruned,
          CAST(SUM(n_rows) AS BIGINT) AS rows_total,
          CAST(COALESCE(SUM(CASE WHEN NOT (mx < 9600 OR mn > 9660)
            THEN n_rows END), 0) AS BIGINT) AS rows_scanned,
          CAST(SUM(n_match) AS BIGINT) AS rows_match
        FROM zones GROUP BY 1)
      SELECT layout, n_shards, n_pruned, rows_total, rows_scanned,
        rows_match,
        ROUND(CAST(rows_scanned AS DOUBLE) / rows_total, 6) AS scan_frac
      FROM per"""))

  // ---------------------------------------------------------------
  // x_layout_hilbert
  // ---------------------------------------------------------------

  /** One Hilbert xy→d round at mask `s` (order-8 curve, 256×256 grid):
    * quadrant digit into d, then the classic reflect+swap rotation of
    * (x, y) for the next round. Emitted as (dExpr, xExpr, yExpr) over
    * in-scope columns x/y/d — flat integer CASE/div/mod terms that
    * parse identically in Spark SQL (`intDiv` = "div") and DuckDB
    * (`intDiv` = "//"), the zorderExprSql discipline. */
  private def hilbertRound(s: Int, intDiv: String): (String, String, String) = {
    val rx = s"((x $intDiv $s) % 2)"
    val ry = s"((y $intDiv $s) % 2)"
    val quad = s"(CASE WHEN $rx = 1 THEN (CASE WHEN $ry = 1 THEN 2 ELSE 3 END)" +
      s" ELSE (CASE WHEN $ry = 1 THEN 1 ELSE 0 END) END)"
    val dE = s"d + ${s.toLong * s} * $quad"
    val xE = s"CASE WHEN $ry = 1 THEN x WHEN $rx = 1 THEN 255 - y ELSE y END"
    val yE = s"CASE WHEN $ry = 1 THEN y WHEN $rx = 1 THEN 255 - x ELSE x END"
    (dE, xE, yE)
  }

  private val hilbertMasks = Seq(128, 64, 32, 16, 8, 4, 2, 1)

  /** 8-bit × 2 Morton interleave over local x/y columns (same flat
    * term list as LayoutQueries.zorderExprSql, narrowed to 8 bits). */
  private def zorder8Sql(intDiv: String): String =
    (0 until 8).map { i =>
      s"((x $intDiv ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((y $intDiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Hilbert-curve layout locality, measured against Z-order and
    * row-major on the same point set — the argument for
    * Hilbert-based clustering (what replaced Z-order in liquid
    * clustering): sort the table by each curve's index and sum the
    * Manhattan distance between CONSECUTIVE rows. Hilbert's defining
    * property is that consecutive indices are grid neighbours, so its
    * average step stays near 1 while Z-order pays its diagonal jumps
    * and row-major pays a full row width per wrap. `sum_idx` pins the
    * whole 65536-cell mapping (any drift in any round breaks it);
    * bijectivity and the unit-step property are spec-pinned over the
    * full grid in TrainingQueriesSpec.
    *
    * Scale shape: the curve index is a flat per-row integer
    * expression (codegen, zero shuffle) — exactly how a writer
    * computes cluster keys at ingest; the consecutive-pair walk uses
    * the range-partitioned global row number (no single-task window)
    * and one equi-join on rn; per-curve rollups are combinable. */
  private val x_layout_hilbert = Q(
    "x_layout_hilbert",
    (s, d) => {
      val pts = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"),
        Sampling.hashBucket(col("c_custkey"), 256).as("x"),
        Sampling.hashBucket(col("c_custkey") * 7 + 3, 256).as("y"))
      val hilbert = hilbertMasks.foldLeft(
        pts.withColumn("d", lit(0L))
          .withColumn("x0", col("x")).withColumn("y0", col("y"))) {
        case (df, m) =>
          val (dE, xE, yE) = hilbertRound(m, "div")
          df.selectExpr("custkey", "x0", "y0",
            s"$dE AS d", s"$xE AS x", s"$yE AS y")
      }
      val curves = hilbert
        .select(lit("hilbert").as("curve"), col("custkey"),
          col("d").as("idx"), col("x0").as("x"), col("y0").as("y"))
        .unionByName(pts.select(lit("zorder").as("curve"), col("custkey"),
          expr(zorder8Sql("div")).as("idx"), col("x"), col("y")))
        .unionByName(pts.select(lit("rowmajor").as("curve"), col("custkey"),
          (col("x") * 256 + col("y")).as("idx"), col("x"), col("y")))
      // materialize the ranked frame ONCE: both self-join sides consume
      // it, and ReusedExchange does not span join sides — unchecked,
      // the whole rownum pipeline (range shuffle + windows) runs twice
      val ranked = Scale.globalRowNumberBy(curves,
        Seq(col("curve"), col("idx"), col("custkey"))).localCheckpoint(true)
      // prefix-rename both sides: self-joined lineage (README gotcha)
      val a = ranked.select(col("curve").as("a_curve"), col("global_rn").as("a_rn"),
        col("x").as("ax"), col("y").as("ay"))
      val b = ranked.select(col("curve").as("b_curve"), col("global_rn").as("b_rn"),
        col("x").as("bx"), col("y").as("by"))
      val steps = a.join(b,
          col("a_curve") === col("b_curve") && col("b_rn") === col("a_rn") + 1)
        .select(col("a_curve").as("curve"),
          (abs(col("bx") - col("ax")) + abs(col("by") - col("ay"))).as("step"))
      val perCurve = steps.groupBy(col("curve"))
        .agg(sum(col("step")).as("sum_steps"), max(col("step")).as("max_step"))
      val totals = curves.groupBy(col("curve"))
        .agg(count(lit(1)).as("n_points"), sum(col("idx")).as("sum_idx"))
      totals.join(perCurve, "curve")
        .select(col("curve"), col("n_points"), col("sum_idx"),
          col("sum_steps"), col("max_step"),
          round(col("sum_steps").cast("double") / (col("n_points") - 1), 6)
            .as("avg_step"))
    },
    Some {
      val rounds = hilbertMasks.zipWithIndex.map { case (m, i) =>
        val (dE, xE, yE) = hilbertRound(m, "//")
        s"""h${i + 1} AS (SELECT custkey, $dE AS d, $xE AS x, $yE AS y
           |  FROM h$i)""".stripMargin
      }.mkString(",\n      ")
      s"""WITH pts AS (
        SELECT c_custkey AS custkey,
          ${Sampling.hashBucketSql("c_custkey", 256)} AS x,
          ${Sampling.hashBucketSql("c_custkey * 7 + 3", 256)} AS y
        FROM customer),
      h0 AS (SELECT custkey, CAST(0 AS BIGINT) AS d, x, y FROM pts),
      $rounds,
      curves AS (
        SELECT 'hilbert' AS curve, custkey, d AS idx FROM h8
        UNION ALL
        SELECT 'zorder', custkey, ${zorder8Sql("//")} AS idx
        FROM pts
        UNION ALL
        SELECT 'rowmajor', custkey, x * 256 + y AS idx FROM pts),
      ranked AS (
        SELECT curve, custkey, idx,
          ROW_NUMBER() OVER (PARTITION BY curve ORDER BY idx, custkey) AS rn
        FROM curves),
      pairs AS (
        SELECT a.curve,
          abs(pb.x - pa.x) + abs(pb.y - pa.y) AS step
        FROM ranked a JOIN ranked b
          ON a.curve = b.curve AND b.rn = a.rn + 1
        JOIN pts pa ON pa.custkey = a.custkey
        JOIN pts pb ON pb.custkey = b.custkey),
      ps AS (
        SELECT curve, CAST(SUM(step) AS BIGINT) AS sum_steps,
          CAST(MAX(step) AS BIGINT) AS max_step
        FROM pairs GROUP BY 1),
      tot AS (
        SELECT curve, CAST(COUNT(*) AS BIGINT) AS n_points,
          CAST(SUM(idx) AS BIGINT) AS sum_idx
        FROM curves GROUP BY 1)
      SELECT curve, n_points, sum_idx, sum_steps, max_step,
        ROUND(CAST(sum_steps AS DOUBLE) / (n_points - 1), 6) AS avg_step
      FROM tot JOIN ps USING (curve)"""
    })

  // ---------------------------------------------------------------
  // x_ts_ewma
  // ---------------------------------------------------------------

  /** Exponentially-weighted moving average over monthly order series —
    * the RECURSIVE smoothing class the time-series tier lacked (LOCF /
    * rolling / session windows are all frame-expressible; EWMA's
    * e_t = f(e_{t-1}) is not). α = 1/2 in exact integer micro-units:
    * e_1 = n_1·10⁶, e_t = (e_{t-1} + n_t·10⁶) div 2 — truncating
    * integer recursion, so the oracle (a DuckDB RECURSIVE CTE walking
    * t = 1..T per key) replays it bit-exactly; no float accumulates.
    *
    * Scale shape: the corpus-sized op is one combinable (key, month)
    * count; the recursion folds WITHIN each key's collected series —
    * bounded by the calendar (≤ ~84 months here), never by rows. This
    * is the general pattern for per-key sequential state at scale:
    * aggregate the corpus to the bounded series first, then fold. */
  private val x_ts_ewma = Q(
    "x_ts_ewma",
    (s, d) => {
      val series = SeriesFixtures.monthlyOrders(s, d)
      series.groupBy(col("priority"))
        .agg(sort_array(collect_list(struct(col("ym"), col("n")))).as("ser"))
        .select(col("priority"), explode(expr(
          """aggregate(ser,
            |  CAST(array() AS array<struct<ym:int,n:bigint,e:bigint>>),
            |  (acc, s) -> concat(acc, array(named_struct(
            |    'ym', s.ym, 'n', s.n,
            |    'e', CASE WHEN size(acc) = 0 THEN s.n * 1000000
            |         ELSE CAST((element_at(acc, -1).e + s.n * 1000000)
            |                DIV 2 AS BIGINT) END))))""".stripMargin))
          .as("p"))
        .select(col("priority"), col("p.ym").as("ym"), col("p.n").as("n"),
          col("p.e").as("ewma_micro"))
    },
    Some(s"""WITH RECURSIVE ${SeriesFixtures.monthlyOrdersSql},
      s AS (
        SELECT priority, ym, n,
          ROW_NUMBER() OVER (PARTITION BY priority ORDER BY ym) AS t
        FROM series),
      r AS (
        SELECT priority, ym, n, t, CAST(n * 1000000 AS BIGINT) AS e
        FROM s WHERE t = 1
        UNION ALL
        SELECT s.priority, s.ym, s.n, s.t,
          CAST((r.e + s.n * 1000000) // 2 AS BIGINT) AS e
        FROM r JOIN s ON s.priority = r.priority AND s.t = r.t + 1)
      SELECT priority, ym, n, e AS ewma_micro FROM r"""))

  // ---------------------------------------------------------------
  // x_text_bpe_train
  // ---------------------------------------------------------------

  /** The real BPE training loop — 8 successive merges over the
    * documents corpus ([[graft.ops.TextOps.bpeTrain]]): the learned
    * merge table plus the compression trajectory. The oracle replays
    * all 8 rounds (pair counts, argmax with total tiebreak,
    * greedy-leftmost island-parity merging, re-segmentation)
    * CTE-block-for-loop-round. */
  private val x_text_bpe_train = Q(
    "x_text_bpe_train",
    (s, d) => graft.ops.TextOps.bpeTrain(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("text"), rounds = 8),
    Some(graft.ops.TextOps.bpeTrainSql(
      "(SELECT text FROM documents WHERE text IS NOT NULL)", rounds = 8)))

  // ---------------------------------------------------------------
  // x_text_textrank
  // ---------------------------------------------------------------

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank
    * over the word co-occurrence graph: nodes are vocabulary words,
    * edges are distinct adjacent pairs (symmetric), ranks are
    * [[graft.ops.Graph.pageRankFixedPoint]]'s exact integer fixed
    * point (3 iterations), top-20 by (rank, word). A pure composition
    * of existing operators — the corpus appears in ONE byte-linear
    * bigram pass; everything after runs on the vocabulary-bounded
    * graph. The oracle replays edges and all three unrolled
    * iterations. */
  private val x_text_textrank = Q(
    "x_text_textrank",
    (s, d) => {
      import graft.ops.Graph
      val toks = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val pairs = toks.select(explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> struct(element_at(t, i + 1) AS a," +
            " element_at(t, i + 2) AS b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b"))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val ranked = Graph.pageRankFixedPoint(edges, iters = 3)
      val top = ranked.orderBy(col("rank_fp").desc, col("node")).limit(20)
      val w = Window.orderBy(col("rank_fp").desc, col("node"))
      top.withColumn("rank", row_number().over(w).cast("int"))
        .select(col("node").as("word"), col("deg"), col("rank_fp"),
          col("rank"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, ${TextOps.tokensSql("text")} AS t
        FROM documents
        WHERE text IS NOT NULL AND len(${TextOps.tokensSql("text")}) >= 2),
      bi AS (
        SELECT t[u.i + 1] AS a, t[u.i + 2] AS b
        FROM toks, unnest(range(0, len(t) - 1)) AS u(i)),
      pairs AS (SELECT a, b FROM bi WHERE a <> b),
      edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION SELECT b, a FROM pairs),
      ${Graph.pageRankFixedPointSql("edges", iters = 3)}
      SELECT node AS word, CAST(deg AS BIGINT) AS deg,
        CAST(rank_fp AS BIGINT) AS rank_fp,
        CAST(ROW_NUMBER() OVER (ORDER BY rank_fp DESC, node) AS INTEGER) AS rank
      FROM __pr_out
      QUALIFY rank <= 20"""))

  // ---------------------------------------------------------------
  // x_graph_boruvka_step
  // ---------------------------------------------------------------

  /** One Borůvka MST round over the co-purchase graph — the
    * minimum-spanning-forest class missing from the graph tier (MST
    * over a similarity graph is the classic single-linkage clustering
    * step). Edge weights are the portable 56-bit hash of the edge key
    * (deterministic, distinct whp — the random-weight MST posture);
    * each node picks its minimum incident edge by (weight, neighbor) —
    * ONE combinable min-struct aggregate, the textbook Borůvka kernel
    * that makes MST log-round parallelizable; picked edges are
    * canonicalized, deduped, and their components resolved by the
    * existing pointer-jumping [[graft.ops.Dedup.connectedComponents]].
    * Output: per-component size, picked-edge count, and total weight —
    * plus the round's global invariant n_components ≤ n_nodes/2,
    * spec-pinned.
    *
    * Scale shape: argmin is map-side combinable (a hot node is a big
    * combinable group); components run on the picked FOREST (≤ n
    * edges, diameter-collapsed by pointer jumping), never on the full
    * edge list. */
  private val x_graph_boruvka = Q(
    "x_graph_boruvka_step",
    (s, d) => {
      val eraw = GraphFixtures.trade(s, d)
        .withColumn("wgt", Sampling.hashValue(
          concat(col("src").cast("string"), lit(":"), col("dst").cast("string"))))
      // symmetrize via ONE explode pass (connectedComponents precedent):
      // the union-of-two-selects form planted the orders⋈lineitem
      // pipeline twice in the plan and hashed each edge once per branch
      val sym = eraw
        .select(explode(array(
          struct(col("src").as("node"), col("dst").as("other"), col("wgt")),
          struct(col("dst").as("node"), col("src").as("other"), col("wgt"))))
          .as("__e"))
        .select(col("__e.node").as("node"), col("__e.other").as("other"),
          col("__e.wgt").as("wgt"))
      // TWO consumers (the CC loop and the per-component stats join):
      // unpinned, the full edge derivation re-ran per consumer. The
      // picked forest is node-bounded (≤ one edge per node), so the
      // pin is small at any scale.
      val picked = sym.groupBy(col("node"))
        .agg(min(struct(col("wgt"), col("other"))).as("m"))
        .select(least(col("node"), col("m.other")).as("pa"),
          greatest(col("node"), col("m.other")).as("pb"),
          col("m.wgt").as("wgt"))
        .distinct()
        .localCheckpoint(true)
      val cc = Dedup.connectedComponents(
        picked.select(col("pa"), col("pb")), "pa", "pb")
      val compOfA = cc.select(col("node").as("pa"), col("cluster_id"))
      val perComp = picked.join(compOfA, "pa")
        .groupBy(col("cluster_id").as("component"))
        .agg(count(lit(1)).as("n_edges_picked"),
          sum(col("wgt")).as("weight_sum"))
      val sizes = cc.groupBy(col("cluster_id").as("component"))
        .agg(count(lit(1)).as("n_members"))
      sizes.join(perComp, "component")
    },
    Some(s"""WITH RECURSIVE ${GraphFixtures.tradeSql},
      eraw AS (
        SELECT src, dst, ${Sampling.hashValueSql(
          "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")} AS wgt
        FROM trade),
      sym AS (
        SELECT src AS node, dst AS other, wgt FROM eraw
        UNION ALL SELECT dst, src, wgt FROM eraw),
      pick AS (
        SELECT node, other, wgt FROM (
          SELECT node, other, wgt,
            ROW_NUMBER() OVER (PARTITION BY node ORDER BY wgt, other) AS rn
          FROM sym) WHERE rn = 1),
      picked AS (
        SELECT DISTINCT least(node, other) AS pa,
          greatest(node, other) AS pb, wgt
        FROM pick),
      ${Dedup.connectedComponentsSql("picked", "pa", "pb")},
      per AS (
        SELECT c.cluster_id AS component,
          CAST(COUNT(*) AS BIGINT) AS n_edges_picked,
          CAST(SUM(p.wgt) AS BIGINT) AS weight_sum
        FROM picked p JOIN __cc_out c ON c.node = p.pa
        GROUP BY 1),
      sz AS (
        SELECT cluster_id AS component,
          CAST(COUNT(*) AS BIGINT) AS n_members
        FROM __cc_out GROUP BY 1)
      SELECT component, n_members, n_edges_picked, weight_sum
      FROM sz JOIN per USING (component)"""))

  // ---------------------------------------------------------------
  // x_text_vocab_chao1
  // ---------------------------------------------------------------

  /** Chao1 vocabulary-richness estimation per language — the species-
    * richness lower bound (Chao 1984) applied to corpus vocabulary:
    * how many word types the language's FULL distribution has, from
    * the singleton/doubleton counts of the sample
    * (Ĉ = d + f₁·(f₁−1)/(2·(f₂+1)), the bias-corrected form that is
    * finite when f₂ = 0). The planning number behind "how much more
    * data until vocab saturates". Everything is exact-integer until
    * one final fixed-point division, so the oracle replays it
    * bit-exactly.
    *
    * Scale shape: token counts are one combinable groupBy bounded by
    * vocabulary; the frequency-of-frequencies rollup is bounded by
    * distinct frequencies; output is |languages| rows. */
  private val x_text_chao1 = Q(
    "x_text_vocab_chao1",
    (s, d) => {
      val tf = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("f"))
      tf.groupBy(col("lang"))
        .agg(count(lit(1)).as("d_types"),
          count(when(col("f") === 1, 1)).as("f1"),
          count(when(col("f") === 2, 1)).as("f2"),
          sum(col("f")).as("n_tokens"))
        .withColumn("chao1_milli", expr(
          "d_types * 1000 + (f1 * (f1 - 1) * 1000) DIV (2 * (f2 + 1))"))
        .select(col("lang"), col("n_tokens"), col("d_types"), col("f1"),
          col("f2"), col("chao1_milli"))
    },
    Some(s"""WITH tf AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT lang, unnest(${TextOps.tokensSql("text")}) AS tok
              FROM documents WHERE text IS NOT NULL)
        GROUP BY 1, 2),
      per AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_types,
          CAST(COUNT(CASE WHEN f = 1 THEN 1 END) AS BIGINT) AS f1,
          CAST(COUNT(CASE WHEN f = 2 THEN 1 END) AS BIGINT) AS f2,
          CAST(SUM(f) AS BIGINT) AS n_tokens
        FROM tf GROUP BY 1)
      SELECT lang, n_tokens, d_types, f1, f2,
        CAST(d_types * 1000 + (f1 * (f1 - 1) * 1000) // (2 * (f2 + 1))
          AS BIGINT) AS chao1_milli
      FROM per"""))

  // ---------------------------------------------------------------
  // x_embed_fisher
  // ---------------------------------------------------------------

  /** Per-dimension Fisher discriminant ratio of the labeled embedding
    * corpus — between-class variance of label means over mean
    * within-class variance, the one-pass QA signal for "do these
    * embeddings separate these labels at all" (and the per-dim
    * feature-selection score). All moments are exact milli/micro
    * integer sums via [[graft.functions.SumLongArray]] (one buffer per
    * task per label); the final ratio is an identical IEEE expression
    * tree on both engines, rounded once.
    *
    * Output: top-8 dims by (fisher desc, dim) — the dims a
    * feature-selector would keep. */
  private val x_embed_fisher = Q(
    "x_embed_fisher",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && col("label").isNotNull
          && size(col("embedding")) === 64)
      val per = emb.groupBy(col("label"))
        .agg(GraftFunctions.sumLongArray(expr(
          "transform(embedding," +
            " x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))")).as("sm"),
          GraftFunctions.sumLongArray(expr(
            "transform(embedding," +
              " x -> CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)" +
              " * 1000000) AS BIGINT))")).as("ssq"),
          count(lit(1)).as("nl"))
      val dims = per.select(col("label"), col("nl"),
          posexplode(arrays_zip(col("sm"), col("ssq"))).as(Seq("i", "z")))
        .select(col("label"), col("nl"), (col("i") + 1).cast("int").as("dim"),
          col("z.sm").as("sml"), col("z.ssq").as("ssql"))
      // each LABEL's contribution is micro-quantized BEFORE the
      // cross-label sum, so the aggregate is an order-free integer sum
      // (a double SUM would drift with Spark's partial-agg order); the
      // per-label term itself is one identical IEEE tree over exact
      // integer inputs
      val stats = dims.groupBy(col("dim"))
        .agg(sum(col("sml")).as("sm_all"), sum(col("nl")).as("n"),
          sum(expr(
            "CAST(ROUND((CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)" +
              " * (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)" +
              " * nl * 1000000) AS BIGINT)")).as("sq_means_micro"),
          sum(expr(
            "CAST(ROUND((CAST(ssql AS DOUBLE) / CAST(1000000 AS DOUBLE)" +
              " - (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)" +
              " * (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl) * nl)" +
              " * 1000000) AS BIGINT)")).as("ssw_micro"))
      val scored = stats.select(col("dim"), col("n"),
        expr("ROUND(CAST(sq_means_micro" +
          " - CAST(ROUND((CAST(sm_all AS DOUBLE) / CAST(1000 AS DOUBLE) / n)" +
          " * (CAST(sm_all AS DOUBLE) / CAST(1000 AS DOUBLE) / n)" +
          " * n * 1000000) AS BIGINT) AS DOUBLE)" +
          " / CAST(CASE WHEN ssw_micro <= 0 THEN 1000000" +
          " ELSE ssw_micro END AS DOUBLE), 6)").as("fisher"))
      val top = scored.orderBy(col("fisher").desc, col("dim")).limit(8)
      val w = Window.orderBy(col("fisher").desc, col("dim"))
      top.withColumn("rank", row_number().over(w).cast("int"))
    },
    Some("""WITH e AS (
        SELECT label, embedding FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
          AND len(embedding) = 64),
      comp AS (
        SELECT label, i.i AS dim,
          CAST(ROUND(CAST(embedding[i.i] AS DOUBLE) * 1000) AS BIGINT) AS m,
          CAST(ROUND(CAST(embedding[i.i] AS DOUBLE)
            * CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT) AS sq
        FROM e, (SELECT unnest(range(1, 65)) AS i) i),
      dims AS (
        SELECT label, CAST(dim AS INTEGER) AS dim,
          CAST(SUM(m) AS BIGINT) AS sml, CAST(SUM(sq) AS BIGINT) AS ssql,
          CAST(COUNT(*) AS BIGINT) AS nl
        FROM comp GROUP BY 1, 2),
      stats AS (
        SELECT dim, CAST(SUM(sml) AS BIGINT) AS sm_all,
          CAST(SUM(nl) AS BIGINT) AS n,
          CAST(SUM(CAST(ROUND((CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)
            * (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)
            * nl * 1000000) AS BIGINT)) AS BIGINT) AS sq_means_micro,
          CAST(SUM(CAST(ROUND((CAST(ssql AS DOUBLE) / CAST(1000000 AS DOUBLE)
            - (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl)
            * (CAST(sml AS DOUBLE) / CAST(1000 AS DOUBLE) / nl) * nl)
            * 1000000) AS BIGINT)) AS BIGINT) AS ssw_micro
        FROM dims GROUP BY 1),
      scored AS (
        SELECT dim, n,
          ROUND(CAST(sq_means_micro
            - CAST(ROUND((CAST(sm_all AS DOUBLE) / CAST(1000 AS DOUBLE) / n)
            * (CAST(sm_all AS DOUBLE) / CAST(1000 AS DOUBLE) / n)
            * n * 1000000) AS BIGINT) AS DOUBLE)
            / CAST(CASE WHEN ssw_micro <= 0 THEN 1000000
            ELSE ssw_micro END AS DOUBLE), 6) AS fisher
        FROM stats)
      SELECT dim, n, fisher,
        CAST(ROW_NUMBER() OVER (ORDER BY fisher DESC, dim) AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 8"""))

  // ---------------------------------------------------------------
  // x_text_bpe_apply
  // ---------------------------------------------------------------

  /** The trained tokenizer's INFERENCE path: apply the 8 learned
    * merges to the whole corpus and report per-language tokenization
    * cost (pieces per word — the fertility number that decides
    * per-language token budgets). The corpus is never re-segmented:
    * tokenizing is ONE broadcast join of the word stream against the
    * vocabulary's final segmentation sizes ([[
    * graft.ops.TextOps.bpeSegments]]) — at 100 TB the trained
    * segmentation table IS the tokenizer artifact, and application is
    * map-side. */
  private val x_text_bpe_apply = Q(
    "x_text_bpe_apply",
    (s, d) => {
      import graft.ops.TextOps
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val pieces = TextOps.bpeSegments(docs, col("text"), rounds = 8)
        .groupBy(col("w")).agg(count(lit(1)).as("n_pieces"))
      val words = docs.select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("w"))
      words.join(broadcast(pieces), "w")
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces_total"))
        .withColumn("pieces_per_word_milli",
          expr("(n_pieces_total * 1000) DIV n_words"))
    },
    Some {
      val ctes = graft.ops.TextOps.bpeTrainCtes(
        "(SELECT text FROM documents WHERE text IS NOT NULL)", rounds = 8)
      s"""WITH $ctes,
      seg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_pieces
        FROM t9 GROUP BY 1),
      words AS (
        SELECT doc_id, lang, unnest(${TextOps.tokensSql("text")}) AS w
        FROM documents WHERE text IS NOT NULL)
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(n_pieces) AS BIGINT) AS n_pieces_total,
        CAST((SUM(n_pieces) * 1000) // COUNT(*) AS BIGINT)
          AS pieces_per_word_milli
      FROM words JOIN seg USING (w)
      GROUP BY 1"""
    })

  // ---------------------------------------------------------------
  // x_ml_naive_bayes
  // ---------------------------------------------------------------

  /** Multinomial Naive Bayes language classifier, trained and
    * evaluated in one plan: docs with doc_id % 5 ≠ 0 train per-class
    * hashed-unigram LMs (B = 1024 md5 buckets — DSIR's constant-size
    * feature space), the held-out fifth is classified by
    * argmax_c [ln P(c) + Σ_tok ln P(bucket|c)] with add-1 smoothing,
    * and the emit is the confusion matrix (true lang × predicted).
    *
    * Fixed-point discipline: every ln argument is a ratio of exact
    * integers (< 2^53), ONE ln, rounded to micro — so the per-doc
    * score is an exact BIGINT sum and argmax (tiebreak: smaller class
    * name) is bit-deterministic cross-engine.
    *
    * Scale shape: train counts are combinable aggregates bounded by
    * C·B; the (class × bucket) log-prob grid (≤ C·B rows) broadcasts;
    * test docs pre-aggregate to per-doc BUCKET counts before the grid
    * join, so the scored frame is (docs × C), never (tokens × C); the
    * confusion rollup is one combinable count. */
  private val x_ml_naive_bayes = Q(
    "x_ml_naive_bayes",
    (s, d) => graft.ops.TextOps.naiveBayesConfusion(
      Tables.documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"), col("lang"), col("text"))),
    Some(s"""WITH ${graft.ops.TextOps.naiveBayesConfusionSql(
        "(SELECT doc_id, lang, text FROM documents " +
          "WHERE text IS NOT NULL AND lang IS NOT NULL)")}
      SELECT lang, pred, n_docs FROM __nb_conf"""))

  // ---------------------------------------------------------------
  // x_eval_map_mrr
  // ---------------------------------------------------------------

  /** MAP@10 / MRR@10 retrieval evaluation over the exact cosine
    * top-10 (query batch vec_id < 10, relevance = same label) — the
    * third leg of the eval stool next to x_ml_auc and x_text_ndcg.
    *
    * Per query: AP = Σ_k rel_k·(cum_rel_k/k) / min(R, 10) with R the
    * query's total relevant count in the corpus (label count − 1, a
    * broadcast per-label aggregate, NOT a per-query scan); RR = 1 /
    * first relevant rank. Each precision term is micro-quantized from
    * exact small integers (cum_rel ≤ 10, k ≤ 10 — exact in double)
    * so the per-query sums are exact BIGINTs; the two divisions
    * happen once at the emit. All windows run on the 10-row-per-query
    * candidate frame. */
  private val x_eval_map_mrr = Q(
    "x_eval_map_mrr",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull && col("label").isNotNull)
      val ranked = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, k = 10)
      val lbl = emb.select(col("vec_id"), col("label"))
      val lc = emb.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
      val rel = ranked
        .join(broadcast(lbl.select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), "query_id")
        .join(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("n_label_v")), "neighbor_id")
        .withColumn("is_rel", col("q_label") === col("n_label_v"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val terms = rel
        .withColumn("cum_rel", sum(when(col("is_rel"), 1L).otherwise(0L))
          .over(w))
        .withColumn("term_micro", when(col("is_rel"),
          expr("CAST(ROUND(CAST(cum_rel AS DOUBLE) / rank * 1000000)"
            + " AS BIGINT)")).otherwise(lit(0L)))
      terms.groupBy(col("query_id"), col("q_label"))
        .agg(sum(col("term_micro")).as("ap_sum_micro"),
          sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_rel_topk"),
          min(when(col("is_rel"), col("rank"))).as("first_rel_rank"))
        .join(broadcast(lc.select(col("label").as("q_label"),
          (col("n_label") - 1).as("r_total"))), "q_label")
        .withColumn("r_eff", least(col("r_total"), lit(10L)))
        .select(col("query_id"), col("q_label").cast("int").as("q_label"),
          col("r_total"), col("n_rel_topk"),
          coalesce(col("first_rel_rank"), lit(0)).cast("long")
            .as("first_rel_rank"),
          when(col("r_eff") > 0, round(col("ap_sum_micro").cast("double")
            / 1000000.0 / col("r_eff").cast("double"), 6))
            .otherwise(lit(0.0)).as("ap"),
          coalesce(round(lit(1.0)
            / col("first_rel_rank").cast("double"), 6), lit(0.0)).as("rr"))
    },
    Some("""WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        label
      FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS q_label
      FROM emb WHERE vec_id < 10),
    scored AS (
      SELECT query_id, q_label, vec_id AS neighbor_id, label AS n_label_v,
        ROUND(list_inner_product(qv, v)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))),
          6) AS cosine
      FROM emb, q WHERE query_id <> vec_id),
    ranked AS (
      SELECT query_id, q_label, neighbor_id, n_label_v,
        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 10),
    terms AS (
      SELECT query_id, q_label, rank,
        q_label = n_label_v AS is_rel,
        CAST(SUM(CASE WHEN q_label = n_label_v THEN 1 ELSE 0 END)
          OVER (PARTITION BY query_id ORDER BY rank) AS BIGINT) AS cum_rel
      FROM ranked),
    pq AS (
      SELECT query_id, q_label,
        CAST(SUM(CASE WHEN is_rel THEN
          CAST(ROUND(CAST(cum_rel AS DOUBLE) / rank * 1000000) AS BIGINT)
          ELSE 0 END) AS BIGINT) AS ap_sum_micro,
        CAST(SUM(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rel_topk,
        MIN(CASE WHEN is_rel THEN rank END) AS first_rel_rank
      FROM terms GROUP BY 1, 2),
    lc AS (
      SELECT label AS q_label, CAST(COUNT(*) - 1 AS BIGINT) AS r_total
      FROM emb GROUP BY 1)
    SELECT query_id, CAST(q_label AS INTEGER) AS q_label, r_total,
      n_rel_topk,
      CAST(COALESCE(pq.first_rel_rank, 0) AS BIGINT) AS first_rel_rank,
      CASE WHEN LEAST(r_total, 10) > 0 THEN
        ROUND(CAST(ap_sum_micro AS DOUBLE) / 1000000.0
          / CAST(LEAST(r_total, 10) AS DOUBLE), 6) ELSE 0.0 END AS ap,
      -- qualified pq.first_rel_rank: the bare name could lateral-bind to
      -- the COALESCE(...,0) output alias above, turning NULL (no relevant
      -- hit) into a 1/0 divide instead of the intended COALESCE-to-0
      COALESCE(ROUND(1.0 / CAST(pq.first_rel_rank AS DOUBLE), 6), 0.0) AS rr
    FROM pq JOIN lc USING (q_label)"""))

  // ---------------------------------------------------------------
  // x_text_rouge
  // ---------------------------------------------------------------

  /** ROUGE-1 / ROUGE-2 overlap between adjacent-id document pairs
    * (candidate doc_id vs reference doc_id+1) — the n-gram-overlap
    * evaluation kernel (Lin 2004), which doubles as a near-dup
    * similarity score: overlap = Σ_g min(count_cand(g), count_ref(g))
    * over the n-gram MULTISETS, precision/recall/F1 from exact
    * integer counts.
    *
    * Scale shape: n-gram enumeration is a per-row kernel; grams
    * travel as the 56-bit md5 digest (bounded shuffle bytes — the
    * dup-spans precedent, oracle replays the digest); the overlap is
    * an equi-join keyed (pair, n, digest) whose per-key width is
    * bounded by document length, never corpus size. */
  private val x_text_rouge = Q(
    "x_text_rouge",
    (s, d) => graft.ops.TextOps.rougeAdjacent(
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))),
    Some(s"""WITH docs AS (
        SELECT doc_id, ${TextOps.tokensSql("text")} AS t
        FROM documents WHERE text IS NOT NULL),
      uni AS (
        SELECT doc_id, 1 AS n, unnest(t) AS g FROM docs),
      bi AS (
        SELECT doc_id, 2 AS n,
          unnest(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i + 1])) AS g
        FROM docs WHERE len(t) >= 2),
      cnts AS (
        SELECT doc_id, n, ${Sampling.hashValueSql("g")} AS h,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        GROUP BY 1, 2, 3),
      tot AS (
        SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS ntot
        FROM cnts GROUP BY 1, 2),
      ovl AS (
        SELECT a.doc_id AS p, a.n,
          CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS overlap
        FROM cnts a JOIN cnts b
          ON a.doc_id = b.doc_id - 1 AND a.n = b.n AND a.h = b.h
        GROUP BY 1, 2)
      SELECT ct.doc_id AS cand_id, ct.doc_id + 1 AS ref_id, ct.n AS n,
        CAST(COALESCE(overlap, 0) AS BIGINT) AS overlap,
        ct.ntot AS n_cand, rt.ntot AS n_ref,
        ROUND(CAST(COALESCE(overlap, 0) AS DOUBLE) / ct.ntot, 6) AS rouge_p,
        ROUND(CAST(COALESCE(overlap, 0) AS DOUBLE) / rt.ntot, 6) AS rouge_r,
        ROUND(2.0 * CAST(COALESCE(overlap, 0) AS DOUBLE)
          / (ct.ntot + rt.ntot), 6) AS rouge_f
      FROM tot ct
      JOIN tot rt ON rt.doc_id = ct.doc_id + 1 AND rt.n = ct.n
      LEFT JOIN ovl ON ovl.p = ct.doc_id AND ovl.n = ct.n"""))

  // ---------------------------------------------------------------
  // x_graph_random_walk
  // ---------------------------------------------------------------

  /** Deterministic random walks over the customer–supplier bipartite
    * graph — the corpus-generation step of node2vec/DeepWalk-style
    * graph embeddings, made REPLAYABLE: at step t the walk picks
    * out-neighbor rank hash(walk_id‖t) mod degree from the dst-sorted
    * adjacency ranking, so both engines (and any re-run) produce the
    * identical walk corpus with no RNG state.
    *
    * Scale shape: the edge list is materialized ONCE (the pagerank
    * posture) and each of the 4 unrolled steps joins the WALK frame
    * (tens of rows — broadcast side) to it, so the corpus is only
    * ever STREAMED map-side, never shuffled and never windowed:
    * neighbor rank and degree are computed per step by a window
    * partitioned by walk_id over the frontier's candidate rows (frame
    * = the current node's degree). The first cut pre-ranked the whole
    * adjacency with a corpus-wide window and checkpointed three
    * corpus-sized frames — 254 s at the 100× step; this form
    * re-measured there at a fraction (see README). */
  private val x_graph_random_walk = Q(
    "x_graph_random_walk",
    (s, d) => {
      val edges = GraphFixtures.tradeSym(s, d).toDF("e_src", "e_dst")
        .localCheckpoint(true) // streamed once per step, never shuffled
      val w0 = edges.filter(col("e_src") <= 40 && col("e_src") % 2 === 0)
        .select(col("e_src")).distinct()
        .select(col("e_src").as("walk_id"), col("e_src").as("node"))
        .localCheckpoint(true)
      // each (tiny) frontier is checkpointed so step t+1's plan reads
      // it directly instead of replaying steps 1..t's edge scans
      val steps = (1 to 4).scanLeft(w0) { (cur, t) =>
        val cand = edges.join(broadcast(cur), col("e_src") === col("node"))
        val wWalk = Window.partitionBy(col("walk_id"))
        val ranked = cand
          .withColumn("e_rn", (row_number().over(
            wWalk.orderBy(col("e_dst"))) - 1).cast("long"))
          .withColumn("e_deg", count(lit(1)).over(wWalk))
        ranked.filter(col("e_rn") === Sampling.hashValue(
            concat_ws("|", col("walk_id"), lit(t))) % col("e_deg"))
          .select(col("walk_id"), col("e_dst").as("node"))
          .localCheckpoint(true)
      }
      steps.zipWithIndex.map { case (df, t) =>
        df.select(col("walk_id"), lit(t).as("step"), col("node"))
      }.reduce(_ unionAll _)
    },
    Some {
      def hop(i: Int) =
        s"""w$i AS (
          SELECT walk_id, r.dst AS node
          FROM w${i - 1} JOIN deg USING (node)
          JOIN ranked r ON r.src = w${i - 1}.node
            AND r.rn = ${Sampling.hashValueSql(
              s"CAST(walk_id AS VARCHAR) || '|$i'")} % deg)"""
      s"""WITH ${GraphFixtures.tradeSymSql},
      ranked AS (
        SELECT src, dst,
          CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1
            AS BIGINT) AS rn
        FROM trade_sym),
      deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM trade_sym GROUP BY 1),
      w0 AS (
        SELECT DISTINCT src AS walk_id, src AS node FROM trade WHERE src <= 40),
      ${hop(1)}, ${hop(2)}, ${hop(3)}, ${hop(4)}
      SELECT walk_id, 0 AS step, node FROM w0
      UNION ALL SELECT walk_id, 1 AS step, node FROM w1
      UNION ALL SELECT walk_id, 2 AS step, node FROM w2
      UNION ALL SELECT walk_id, 3 AS step, node FROM w3
      UNION ALL SELECT walk_id, 4 AS step, node FROM w4"""
    })

  // ---------------------------------------------------------------
  // x_ml_kmeans_par_init
  // ---------------------------------------------------------------

  /** One k-means‖ oversampling round (Bahmani et al. 2012,
    * "Scalable k-means++") — the initialization that replaces
    * k-means++'s k sequential corpus scans with O(log k) rounds that
    * each sample MANY candidates independently: every point joins the
    * candidate set with probability ℓ·d²(x)/φ (ℓ = 8), evaluated here
    * with the deterministic hash-as-uniform draw (the DP/bootstrap
    * precedent) so the oracle replays the exact candidate set.
    *
    * Scale shape: the current-center set broadcasts (1 row in round
    * 1), d² is one map-side kernel pass micro-quantized to exact
    * BIGINT, φ is one combinable sum broadcast back, and the accept
    * test is map-side — no shuffle anywhere but the 1-row aggregate. */
  private val x_ml_kmeans_par_init = Q(
    "x_ml_kmeans_par_init",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val c0 = emb.orderBy(col("vec_id")).limit(1).select(col("v").as("c"))
      val scoredReal = emb.crossJoin(broadcast(c0))
        .withColumn("__dxx", GraftFunctions.dot(col("v"), col("v")))
        .withColumn("__dcc", GraftFunctions.dot(col("c"), col("c")))
        .withColumn("__dxc", GraftFunctions.dot(col("v"), col("c")))
        .select(col("vec_id"),
          expr("CAST(ROUND((__dxx + __dcc - 2 * __dxc) * 1000000) AS BIGINT)")
            .as("d2_micro"))
      val phi = scoredReal.agg(sum(col("d2_micro")).as("phi_micro"))
      scoredReal.crossJoin(broadcast(phi))
        .filter(Sampling.hashValue(col("vec_id")).cast("double")
          / lit(7.2057594037927936e16)
          < lit(8.0) * col("d2_micro").cast("double")
            / col("phi_micro").cast("double"))
        .select(col("vec_id"), col("d2_micro"))
    },
    Some(s"""WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      c0 AS (SELECT v AS c FROM v ORDER BY vec_id LIMIT 1),
      scored AS (
        SELECT vec_id,
          CAST(ROUND((list_inner_product(v, v) + list_inner_product(c, c)
            - 2 * list_inner_product(v, c)) * 1000000) AS BIGINT) AS d2_micro
        FROM v CROSS JOIN c0),
      phi AS (SELECT CAST(SUM(d2_micro) AS BIGINT) AS phi_micro FROM scored)
      SELECT vec_id, d2_micro
      FROM scored CROSS JOIN phi
      WHERE CAST(${Sampling.hashValueSql("vec_id")} AS DOUBLE)
          / 72057594037927936.0
        < 8.0 * CAST(d2_micro AS DOUBLE) / CAST(phi_micro AS DOUBLE)"""))

  // ---------------------------------------------------------------
  // x_text_kneser_ney
  // ---------------------------------------------------------------

  /** Interpolated Kneser–Ney bigram probabilities (D = 0.75) — the
    * LM-smoothing gold standard, whose CONTINUATION counts ("how many
    * distinct contexts precede w?") are exactly the novelty signal a
    * corpus-quality pipeline wants: P_KN(w2|w1) =
    * max(c12−D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/B.
    *
    * With D = 3/4 every term is a ratio of exact integers (the
    * discount works in quarters: max(4c12−3,0)/(4c1)), so p_kn is
    * micro-quantized from one identical IEEE tree on both engines.
    * Scale shape: bigram enumeration is byte-linear; all four count
    * frames (c12, c1, N1+ forward/backward, B) are vocabulary-
    * bounded combinable aggregates; the final join tree never touches
    * the corpus again; top-100 is TakeOrdered. */
  private val x_text_kneser_ney = Q(
    "x_text_kneser_ney",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(TextOps.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
      val bi = docs.select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> named_struct(" +
          "'w1', element_at(t, i), 'w2', element_at(t, i + 1)))"))
        .as("g")).select(col("g.w1"), col("g.w2"))
      val c12 = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .localCheckpoint(true)
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
        count(lit(1)).as("n1fw"))
      val n1bw = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
      val btypes = c12.agg(count(lit(1)).as("btypes"))
      val scored = c12.join(c1, "w1").join(n1bw, "w2")
        .crossJoin(broadcast(btypes))
        .withColumn("p_kn_micro", expr(
          """CAST(ROUND((
            |  CAST(GREATEST(4 * c12 - 3, 0) AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
            |  + CAST(3 * n1fw AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
            |    * (CAST(n1bw AS DOUBLE) / CAST(btypes AS DOUBLE))
            |) * 1000000) AS BIGINT)""".stripMargin))
        .filter(col("c12") >= 3)
      val top = scored
        .orderBy(col("p_kn_micro").desc, col("w1"), col("w2")).limit(100)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("p_kn_micro").desc, col("w1"), col("w2")))
          .cast("int"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1fw"),
          col("n1bw"), col("p_kn_micro"), col("rank"))
    },
    Some(s"""WITH docs AS (
        SELECT ${TextOps.tokensSql("text")} AS t
        FROM documents WHERE text IS NOT NULL),
      bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM docs, unnest(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2),
      c12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM bi GROUP BY 1, 2),
      c1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
          CAST(COUNT(*) AS BIGINT) AS n1fw
        FROM c12 GROUP BY 1),
      bw AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw
        FROM c12 GROUP BY 1),
      bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS btypes FROM c12),
      scored AS (
        SELECT w1, w2, c12, c1, n1fw, n1bw,
          CAST(ROUND((
            CAST(GREATEST(4 * c12 - 3, 0) AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
            + CAST(3 * n1fw AS DOUBLE) / CAST(4 * c1 AS DOUBLE)
              * (CAST(n1bw AS DOUBLE) / CAST(btypes AS DOUBLE))
          ) * 1000000) AS BIGINT) AS p_kn_micro
        FROM c12 JOIN c1 USING (w1) JOIN bw USING (w2) CROSS JOIN bt
        WHERE c12 >= 3)
      SELECT w1, w2, c12, c1, n1fw, n1bw, p_kn_micro,
        CAST(ROW_NUMBER() OVER (ORDER BY p_kn_micro DESC, w1, w2)
          AS INTEGER) AS rank
      FROM scored
      QUALIFY rank <= 100"""))

  // ---------------------------------------------------------------
  // x_text_heaps_law
  // ---------------------------------------------------------------

  /** Heaps'-law vocabulary growth fit — "how fast does vocabulary
    * grow as the corpus grows?", the saturation-planning companion of
    * Chao1: V(n) ≈ K·n^β, with β estimated by OLS over the ln-ln
    * growth curve sampled at 10 doc-id deciles.
    *
    * The distributed trick: cumulative vocabulary per decile needs no
    * prefix rescan — each term contributes its FIRST-OCCURRENCE
    * doc_id (one combinable min over the term frame), new-type and
    * token counts bucket to deciles, and both cumulative sums run
    * over the 10-row decile frame. The ln-ln points are micro-
    * quantized (exact-integer argument, one ln each), the OLS slope
    * closes over exact BIGINT Σx/Σy/Σxy/Σx² of those micro values,
    * and β is finalized once in double. Emits the 10-point curve with
    * the fitted beta_micro on each row. */
  private val x_text_heaps_law = Q(
    "x_text_heaps_law",
    (s, d) => {
      val toks = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("tok"))
      val maxDoc = toks.agg(max(col("doc_id")).as("max_doc"))
      val bucketed = toks.crossJoin(broadcast(maxDoc))
        .withColumn("dec", expr("CAST(doc_id * 10 DIV (max_doc + 1) AS INT)"))
      val tokCnt = bucketed.groupBy(col("dec"))
        .agg(count(lit(1)).as("n_tok"))
      val newTypes = bucketed.groupBy(col("tok"))
        .agg(min(col("dec")).as("dec"))
        .groupBy(col("dec")).agg(count(lit(1)).as("n_new"))
      val wCum = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = tokCnt.join(newTypes, Seq("dec"), "left")
        .withColumn("n_cum", sum(col("n_tok")).over(wCum))
        .withColumn("v_cum", sum(coalesce(col("n_new"), lit(0L))).over(wCum))
        .select(col("dec"), col("n_cum"), col("v_cum"),
          expr("CAST(ROUND(LN(CAST(n_cum AS DOUBLE)) * 1000000) AS BIGINT)")
            .as("ln_n_micro"),
          expr("CAST(ROUND(LN(CAST(v_cum AS DOUBLE)) * 1000000) AS BIGINT)")
            .as("ln_v_micro"))
      val fit = curve.agg(
        count(lit(1)).as("m"), sum(col("ln_n_micro")).as("sx"),
        sum(col("ln_v_micro")).as("sy"),
        sum(col("ln_n_micro") * col("ln_v_micro")).as("sxy"),
        sum(col("ln_n_micro") * col("ln_n_micro")).as("sxx"))
        .select(expr("""CAST(ROUND(
          |  (CAST(m * sxy - sx * sy AS DOUBLE)
          |   / CAST(m * sxx - sx * sx AS DOUBLE)) * 1000000)
          |AS BIGINT)""".stripMargin).as("beta_micro"))
      curve.crossJoin(broadcast(fit))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok
        FROM documents WHERE text IS NOT NULL),
      mx AS (SELECT MAX(doc_id) AS max_doc FROM toks),
      b AS (
        SELECT tok, CAST(doc_id * 10 // (max_doc + 1) AS INTEGER) AS dec
        FROM toks CROSS JOIN mx),
      tc AS (SELECT dec, CAST(COUNT(*) AS BIGINT) AS n_tok FROM b GROUP BY 1),
      nt AS (
        SELECT dec, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
          SELECT tok, MIN(dec) AS dec FROM b GROUP BY 1) GROUP BY 1),
      curve AS (
        SELECT dec,
          CAST(SUM(n_tok) OVER (ORDER BY dec) AS BIGINT) AS n_cum,
          CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY dec) AS BIGINT)
            AS v_cum
        FROM tc LEFT JOIN nt USING (dec)),
      pts AS (
        SELECT dec, n_cum, v_cum,
          CAST(ROUND(LN(CAST(n_cum AS DOUBLE)) * 1000000) AS BIGINT)
            AS ln_n_micro,
          CAST(ROUND(LN(CAST(v_cum AS DOUBLE)) * 1000000) AS BIGINT)
            AS ln_v_micro
        FROM curve),
      fit AS (
        SELECT CAST(ROUND(
          (CAST(COUNT(*) * SUM(ln_n_micro * ln_v_micro)
              - SUM(ln_n_micro) * SUM(ln_v_micro) AS DOUBLE)
           / CAST(COUNT(*) * SUM(ln_n_micro * ln_n_micro)
              - SUM(ln_n_micro) * SUM(ln_n_micro) AS DOUBLE)) * 1000000)
          AS BIGINT) AS beta_micro
        FROM pts)
      SELECT dec, n_cum, v_cum, ln_n_micro, ln_v_micro, beta_micro
      FROM pts CROSS JOIN fit"""))

  // ---------------------------------------------------------------
  // x_dedup_cdc_chunking
  // ---------------------------------------------------------------

  /** Content-defined chunking (the Rabin/FastCDC idea at token
    * granularity): a chunk boundary falls AFTER any token whose
    * 56-bit digest ≡ 0 (mod 16) — so chunk boundaries depend only on
    * CONTENT, and an insertion early in a document reshifts at most
    * one chunk instead of every fixed-size block. Per doc: chunk
    * count, duplicate-chunk count (chunk digest seen in >1 chunk
    * corpus-wide), and the dup ratio in exact milli.
    *
    * Scale shape: tokenize + boundary flag are per-row kernels; the
    * chunk-index window partitions BY DOCUMENT (state bounded by doc
    * length); chunk reassembly groups (doc, chunk) with state bounded
    * by expected chunk length (16 tokens); the dup test is one
    * combinable count over chunk digests. */
  private val x_dedup_cdc_chunking = Q(
    "x_dedup_cdc_chunking",
    (s, d) => {
      val toks = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text")))
          .as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
        .withColumn("bnd",
          when(Sampling.hashValue(col("tok")) % 16 === 0, 1L).otherwise(0L))
      val wBefore = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = toks
        .withColumn("cid", coalesce(sum(col("bnd")).over(wBefore), lit(0L)))
        .groupBy(col("doc_id"), col("cid"))
        .agg(Sampling.hashValue(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("h"),
          count(lit(1)).as("chunk_len"))
      val dupes = chunks.groupBy(col("h")).agg(count(lit(1)).as("n_h"))
      chunks.join(dupes, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_h") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(col("chunk_len")).as("n_tokens"))
        .withColumn("dup_ratio_milli",
          expr("n_dup_chunks * 1000 DIV n_chunks"))
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, ${TextOps.tokensSql("text")} AS t
        FROM documents WHERE text IS NOT NULL),
      toks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok,
          CASE WHEN ${Sampling.hashValueSql("t[i]")} % 16 = 0
            THEN 1 ELSE 0 END AS bnd
        FROM docs, unnest(range(1, len(t) + 1)) AS u(i)),
      cids AS (
        SELECT doc_id, pos, tok,
          CAST(COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cid
        FROM toks),
      chunks AS (
        SELECT doc_id, cid,
          ${Sampling.hashValueSql(
            "string_agg(tok, ' ' ORDER BY pos)")} AS h,
          CAST(COUNT(*) AS BIGINT) AS chunk_len
        FROM cids GROUP BY 1, 2),
      dupes AS (
        SELECT h, CAST(COUNT(*) AS BIGINT) AS n_h FROM chunks GROUP BY 1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_chunks,
        CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
          AS BIGINT) AS dup_ratio_milli
      FROM chunks JOIN dupes USING (h)
      GROUP BY 1"""))

  // ---------------------------------------------------------------
  // x_ts_holt
  // ---------------------------------------------------------------

  /** Holt's double exponential smoothing (α = β = 1/2) over the
    * monthly order-count series per priority — the TWO-state
    * extension of x_ts_ewma's recursive class: level and trend
    * update jointly (l_t from the forecast l+b, b_t from the level
    * delta), still inexpressible as a window frame.
    *
    * Exact integer micro-units throughout; the halving is TRUNCATING
    * division on BOTH engines (Spark `DIV`, DuckDB `//` — measured:
    * -5//2 = -2 in DuckDB, so a floor-division spelling like
    * shiftright diverges by 1 whenever the trend delta is negative
    * and odd). The recursion folds over per-key collected series
    * bounded by the calendar; the one-step forecast l+b rides
    * along. */
  private val x_ts_holt = Q(
    "x_ts_holt",
    (s, d) => {
      val series = SeriesFixtures.monthlyOrders(s, d)
      series.groupBy(col("priority"))
        .agg(sort_array(collect_list(struct(col("ym"), col("n")))).as("ser"))
        .select(col("priority"), explode(expr(
          """aggregate(ser,
            |  CAST(array() AS array<struct<ym:int,n:bigint,l:bigint,b:bigint>>),
            |  (acc, s) -> concat(acc, array(CASE WHEN size(acc) = 0
            |    THEN named_struct('ym', s.ym, 'n', s.n,
            |      'l', s.n * 1000000, 'b', CAST(0 AS BIGINT))
            |    ELSE named_struct('ym', s.ym, 'n', s.n,
            |      'l', CAST((s.n * 1000000
            |        + element_at(acc, -1).l + element_at(acc, -1).b)
            |        DIV 2 AS BIGINT),
            |      'b', CAST((CAST((s.n * 1000000
            |          + element_at(acc, -1).l + element_at(acc, -1).b)
            |          DIV 2 AS BIGINT)
            |        - element_at(acc, -1).l + element_at(acc, -1).b)
            |        DIV 2 AS BIGINT))
            |  END)))""".stripMargin)).as("p"))
        .select(col("priority"), col("p.ym").as("ym"), col("p.n").as("n"),
          col("p.l").as("level_micro"), col("p.b").as("trend_micro"),
          (col("p.l") + col("p.b")).as("forecast_micro"))
    },
    Some(s"""WITH RECURSIVE ${SeriesFixtures.monthlyOrdersSql},
      s AS (
        SELECT priority, ym, n,
          ROW_NUMBER() OVER (PARTITION BY priority ORDER BY ym) AS t
        FROM series),
      r AS (
        SELECT priority, ym, n, t,
          CAST(n * 1000000 AS BIGINT) AS l, CAST(0 AS BIGINT) AS b
        FROM s WHERE t = 1
        UNION ALL
        SELECT s.priority, s.ym, s.n, s.t,
          CAST((s.n * 1000000 + r.l + r.b) // 2 AS BIGINT) AS l,
          CAST(((s.n * 1000000 + r.l + r.b) // 2 - r.l + r.b) // 2
            AS BIGINT) AS b
        FROM r JOIN s ON s.priority = r.priority AND s.t = r.t + 1)
      SELECT priority, ym, n, l AS level_micro, b AS trend_micro,
        l + b AS forecast_micro
      FROM r"""))

  // ---------------------------------------------------------------
  // x_text_zipf_fit
  // ---------------------------------------------------------------

  /** Zipf's-law fit over the term frequency spectrum — ln-ln OLS of
    * frequency against rank for the top-1000 terms (TakeOrdered with
    * (count DESC, term) total tiebreak — no global sort), the
    * companion diagnostic to Heaps: a corpus whose slope drifts from
    * ≈ −1 has a degenerate (template/boilerplate) frequency profile.
    * Rank and ln-points live on the 1000-row bounded frame; Σx/Σy/
    * Σxy/Σx²/Σy² close over exact BIGINT micro values; slope and r²
    * finalize once in double. Emits the top-20 spectrum rows with the
    * fit attached. */
  private val x_text_zipf_fit = Q(
    "x_text_zipf_fit",
    (s, d) => {
      val freqs = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(1000)
      val pts = freqs.withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
        .withColumn("ln_r_micro",
          expr("CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)"))
        .withColumn("ln_c_micro",
          expr("CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)"))
        .localCheckpoint(true) // fit + emit both read the ranked frame
      val fit = pts.agg(
        count(lit(1)).as("m"), sum(col("ln_r_micro")).as("sx"),
        sum(col("ln_c_micro")).as("sy"),
        sum(col("ln_r_micro") * col("ln_c_micro")).as("sxy"),
        sum(col("ln_r_micro") * col("ln_r_micro")).as("sxx"),
        sum(col("ln_c_micro") * col("ln_c_micro")).as("syy"))
        .select(
          // factors combine in DOUBLE: with m = 1000 points the BIGINT
          // products m·sxy / sx·sy overflow at the 100× corpus (ANSI
          // mode faults); each sum is still an exact integer, and both
          // engines run the identical double tree
          expr("""CAST(ROUND(
            |  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
            |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000)
            |AS BIGINT)""".stripMargin).as("slope_micro"),
          expr("""CAST(ROUND(
            |  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
            |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
            |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
            |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |     * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
            |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000)
            |AS BIGINT)""".stripMargin).as("r2_micro"))
      pts.filter(col("rank") <= 20)
        .select(col("rank"), col("tok"), col("cnt"),
          col("ln_r_micro"), col("ln_c_micro"))
        .crossJoin(broadcast(fit))
    },
    Some(s"""WITH freqs AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(${TextOps.tokensSql("text")}) AS tok
          FROM documents WHERE text IS NOT NULL)
        GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 1000),
      pts AS (
        SELECT tok, cnt,
          CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank
        FROM freqs),
      lpts AS (
        SELECT rank, tok, cnt,
          CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT)
            AS ln_r_micro,
          CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
            AS ln_c_micro
        FROM pts),
      sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
          CAST(SUM(ln_r_micro) AS BIGINT) AS sx,
          CAST(SUM(ln_c_micro) AS BIGINT) AS sy,
          CAST(SUM(ln_r_micro * ln_c_micro) AS BIGINT) AS sxy,
          CAST(SUM(ln_r_micro * ln_r_micro) AS BIGINT) AS sxx,
          CAST(SUM(ln_c_micro * ln_c_micro) AS BIGINT) AS syy
        FROM lpts),
      fit AS (
        SELECT
          CAST(ROUND(
            (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000)
            AS BIGINT) AS slope_micro,
          CAST(ROUND(
            (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / ((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000)
            AS BIGINT) AS r2_micro
        FROM sums)
      SELECT rank, tok, cnt, ln_r_micro, ln_c_micro, slope_micro, r2_micro
      FROM lpts CROSS JOIN fit
      WHERE rank <= 20"""))

  // ---------------------------------------------------------------
  // x_ts_stl_decompose
  // ---------------------------------------------------------------

  /** Seasonal–trend decomposition of the daily event-count series
    * (the classical additive form: trend = centered 7-day moving
    * average, seasonal = day-of-week mean of the detrended series,
    * residual = remainder) — exact integer milli throughout: the MA
    * is sum7·1000 DIV 7, day-of-week from epoch-day mod 7 (neither
    * engine's locale-dependent dayofweek), seasonal means truncating
    * DIV on both engines. Edge days without a full 7-day window carry
    * NULL trend and are excluded from the seasonal fit, exactly as
    * the classical method prescribes.
    *
    * Scale shape: the corpus collapses to one daily count aggregate
    * ([[SeriesFixtures.dailyEvents]]); every window after runs on the
    * calendar-bounded day frame. */
  private val x_ts_stl_decompose = Q(
    "x_ts_stl_decompose",
    (s, d) => graft.ops.Stats.stlDecompose(SeriesFixtures.dailyEvents(s, d)),
    Some(s"""WITH ${SeriesFixtures.dailyEventsSql},
      ${graft.ops.Stats.stlDecomposeSql("daily")}
      SELECT day, dow, y, trend_milli, seasonal_milli, residual_milli
      FROM stl"""))

  // ---------------------------------------------------------------
  // x_graph_modularity
  // ---------------------------------------------------------------

  /** Newman modularity Q of the NATION partition of the
    * customer–supplier order graph — "do customers order from
    * same-nation suppliers more than a random graph would?":
    * Q = Σ_c (intra_c/S − (d_c/S)²) over the symmetrized edge list
    * (S = 2m directed-sym edges, intra_c counting both directions,
    * d_c the sym-degree mass of community c). The community labels
    * are the nation keys — a REAL exogenous partition, which is the
    * honest demonstration of the metric (synchronous label prop on a
    * bipartite graph oscillates into an all-edges-cross partition
    * whose Q is degenerately −Σ(d_c/S)²; x_graph_labelprop already
    * pins that algorithm itself).
    *
    * Scale shape: the corpus-sized edge list is STREAMED exactly
    * once — both endpoint-label joins broadcast the node→nation map,
    * and the whole graph collapses map-side into the ≤|C|² community
    * PAIR MATRIX m(c₁,c₂); d_sym, intra_sym, S and the Q numerator
    * Σ(intra_c·S − d_c²) (exact BIGINT, one division at the emit)
    * all derive from those ≤625 rows. The first cut symmetrized +
    * distinct'd + checkpointed the 2|E|-row edge list and shuffled it
    * twice more for the label joins — 171 s at the 100× step; the
    * matrix form re-measured 98 s (26× over sf0.1 — the remaining
    * cost is the edge-distinct materialization plus the one
    * corpus-key shuffle for the member count, both edge-linear). */
  private val x_graph_modularity = Q(
    "x_graph_modularity",
    (s, d) => {
      val edges = GraphFixtures.trade(s, d)
        .localCheckpoint(true) // pair matrix + member count both read it
      val labels = GraphFixtures.nationLabels(s, d)
      // directed-edge pair matrix; sym quantities derive exactly:
      // d_sym(c) = row_mass(c) + col_mass(c), intra_sym = 2 m(c,c),
      // S = 2 Σ m
      val pairs = edges
        .join(broadcast(labels.select(col("node").as("src"),
          col("label").as("lsrc"))), "src")
        .join(broadcast(labels.select(col("node").as("dst"),
          col("label").as("ldst"))), "dst")
        .groupBy(col("lsrc"), col("ldst")).agg(count(lit(1)).as("m"))
        .localCheckpoint(true) // ≤625 rows, read by 4 consumers
      val rowMass = pairs.groupBy(col("lsrc").as("label"))
        .agg(sum(col("m")).as("out_m"))
      val colMass = pairs.groupBy(col("ldst").as("label"))
        .agg(sum(col("m")).as("in_m"))
      val intra = pairs.filter(col("lsrc") === col("ldst"))
        .select(col("lsrc").as("label"), (col("m") * 2).as("intra_sym"))
      val stot = pairs.agg((sum(col("m")) * 2).as("s_tot"))
      val members = edges
        .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
        .join(broadcast(labels), "node")
        .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      val terms = rowMass.join(colMass, Seq("label"), "full")
        .join(intra, Seq("label"), "left")
        .join(members, Seq("label"), "full")
        .crossJoin(broadcast(stot))
        .select(col("label"), coalesce(col("n_members"), lit(0L)).as("n_members"),
          coalesce(col("intra_sym"), lit(0L)).as("intra_sym"),
          (coalesce(col("out_m"), lit(0L)) + coalesce(col("in_m"), lit(0L)))
            .as("d_sym"),
          col("s_tot"))
      val q = terms.agg(sum(col("intra_sym") * col("s_tot")
          - col("d_sym") * col("d_sym")).as("q_num"),
          max(col("s_tot")).as("s_tot2"))
        .select(expr("""CAST(ROUND(CAST(q_num AS DOUBLE)
          |  / (CAST(s_tot2 AS DOUBLE) * CAST(s_tot2 AS DOUBLE))
          |  * 1000000) AS BIGINT)""".stripMargin).as("q_micro"))
      terms.crossJoin(broadcast(q))
    },
      Some(s"""WITH ${GraphFixtures.tradeSymSql},
        ${GraphFixtures.nationLabelsSql},
        joined AS (
          SELECT ls.label AS lsrc, ld.label AS ldst
          FROM trade_sym e
          JOIN labels ls ON e.src = ls.node
          JOIN labels ld ON e.dst = ld.node),
        comm AS (
          SELECT lsrc AS label, CAST(COUNT(*) AS BIGINT) AS d_sym,
            CAST(SUM(CASE WHEN lsrc = ldst THEN 1 ELSE 0 END) AS BIGINT)
              AS intra_sym
          FROM joined GROUP BY 1),
        members AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM (SELECT DISTINCT src AS node FROM trade_sym) n
          JOIN labels USING (node) GROUP BY 1),
        st AS (SELECT CAST(COUNT(*) AS BIGINT) AS s_tot FROM trade_sym),
        terms AS (
          SELECT label, n_members, intra_sym, d_sym, s_tot
          FROM comm JOIN members USING (label) CROSS JOIN st),
        q AS (
          SELECT CAST(ROUND(CAST(SUM(intra_sym * s_tot - d_sym * d_sym)
              AS DOUBLE)
            / (CAST(ANY_VALUE(s_tot) AS DOUBLE)
               * CAST(ANY_VALUE(s_tot) AS DOUBLE))
            * 1000000) AS BIGINT) AS q_micro
          FROM terms)
        SELECT label, n_members, intra_sym, d_sym, s_tot, q_micro
        FROM terms CROSS JOIN q"""))

  // ---------------------------------------------------------------
  // x_text_jensen_shannon
  // ---------------------------------------------------------------

  /** Jensen–Shannon divergence between the English and non-English
    * sub-corpora's hashed-unigram distributions — the SYMMETRIC,
    * bounded (≤ ln 2) corpus-drift measure (PSI's text-native
    * sibling; also the right "did this month's crawl change?" gate):
    * JS = ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2, over B = 1024 md5
    * buckets with add-1 smoothing.
    *
    * Each per-bucket log ratio is ln of a ratio of exact integers
    * (p_b/m_b = 2·cp·Nq′ / (cp·Nq′ + cq·Np′)), one ln, micro-
    * quantized; the two KL sums are exact BIGINTs. Scale shape: one
    * combinable B-bounded bucket count over the corpus, everything
    * after on the ≤B-row frame. (cp·Nq′ is BIGINT-exact to ~10⁹
    * tokens per side; widen to DECIMAL(38,0) past that.) */
  private val x_text_jensen_shannon = Q(
    "x_text_jensen_shannon",
    (s, d) => {
      val B = 1024
      val toks = Tables.documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select((col("lang") === "en").as("is_p"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("is_p"), Sampling.hashBucket(col("tok"), B).as("b"))
      val counts = toks.groupBy(col("b")).agg(
        sum(when(col("is_p"), 1L).otherwise(0L)).as("cp0"),
        sum(when(col("is_p"), 0L).otherwise(1L)).as("cq0"))
      val grid = s.range(B.toLong).select(col("id").as("b"))
      val cells = grid.join(counts, Seq("b"), "left")
        .select(col("b"), (coalesce(col("cp0"), lit(0L)) + 1).as("cp"),
          (coalesce(col("cq0"), lit(0L)) + 1).as("cq"))
      val tot = cells.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
      val terms = cells.crossJoin(broadcast(tot))
        .select(col("np"), col("nq"), col("cp"), col("cq"),
          expr("""CAST(ROUND(LN(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
            |  / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
            |     + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
            |AS BIGINT)""".stripMargin).as("lnp_micro"),
          expr("""CAST(ROUND(LN(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
            |  / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
            |     + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
            |AS BIGINT)""".stripMargin).as("lnq_micro"))
      terms.groupBy(col("np"), col("nq"))
        .agg(sum(col("cp") * col("lnp_micro")).as("s1"),
          sum(col("cq") * col("lnq_micro")).as("s2"))
        .select(col("np"), col("nq"),
          expr("""CAST(ROUND((CAST(s1 AS DOUBLE) / CAST(np AS DOUBLE)
            |  + CAST(s2 AS DOUBLE) / CAST(nq AS DOUBLE)) / 2)
            |AS BIGINT)""".stripMargin).as("js_micro"))
        .withColumn("drifted", col("js_micro") > lit(50000L))
    },
    Some(s"""WITH toks AS (
        SELECT lang = 'en' AS is_p,
          ${Sampling.hashBucketSql(
            s"unnest(${TextOps.tokensSql("text")})", 1024)} AS b
        FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
      counts AS (
        SELECT b,
          CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS cp0,
          CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS cq0
        FROM toks GROUP BY 1),
      cells AS (
        SELECT CAST(g.range AS BIGINT) AS b,
          CAST(COALESCE(cp0, 0) + 1 AS BIGINT) AS cp,
          CAST(COALESCE(cq0, 0) + 1 AS BIGINT) AS cq
        FROM range(1024) g LEFT JOIN counts ON g.range = counts.b),
      tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
        CAST(SUM(cq) AS BIGINT) AS nq FROM cells),
      terms AS (
        SELECT np, nq, cp, cq,
          CAST(ROUND(LN(2.0 * CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
            / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
               + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
            AS BIGINT) AS lnp_micro,
          CAST(ROUND(LN(2.0 * CAST(cq AS DOUBLE) * CAST(np AS DOUBLE)
            / (CAST(cp AS DOUBLE) * CAST(nq AS DOUBLE)
               + CAST(cq AS DOUBLE) * CAST(np AS DOUBLE))) * 1000000)
            AS BIGINT) AS lnq_micro
        FROM cells CROSS JOIN tot)
      SELECT np, nq,
        CAST(ROUND((CAST(SUM(cp * lnp_micro) AS DOUBLE) / CAST(np AS DOUBLE)
          + CAST(SUM(cq * lnq_micro) AS DOUBLE) / CAST(nq AS DOUBLE)) / 2)
          AS BIGINT) AS js_micro,
        CAST(ROUND((CAST(SUM(cp * lnp_micro) AS DOUBLE) / CAST(np AS DOUBLE)
          + CAST(SUM(cq * lnq_micro) AS DOUBLE) / CAST(nq AS DOUBLE)) / 2)
          AS BIGINT) > 50000 AS drifted
      FROM terms
      GROUP BY 1, 2"""))

  // ---------------------------------------------------------------
  // x_events_attribution
  // ---------------------------------------------------------------

  /** Multi-touch attribution over the event stream — for every
    * purchase, the non-purchase touchpoints of the same user in the
    * preceding 7 days, credited three ways per event type:
    * first-touch (1 to the earliest touch), last-touch (1 to the
    * latest), and linear (1000 milli split evenly, truncating DIV —
    * both engines). Ties inside a purchase window break by
    * (ts, event_id) total order.
    *
    * Scale shape: the purchase×touch pairing is a per-user range
    * join (equi-join on user_id + time filter), so pair volume is
    * bounded by per-user 7-day activity — user-bounded at any corpus
    * size; the credit rollup is one combinable aggregate. */
  private val x_events_attribution = Q(
    "x_events_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("event_type").isNotNull
          && col("user_id").isNotNull)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("t_ts"),
          col("event_id").as("t_id"), col("event_type").as("ty"))
      val pairs = purchases.join(touches, "user_id")
        .filter(col("t_ts") < col("p_ts")
          && col("t_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      val w = Window.partitionBy(col("p_id"))
      val scored = pairs
        .withColumn("k", count(lit(1)).over(w))
        .withColumn("rn_first", row_number().over(
          w.orderBy(col("t_ts"), col("t_id"))))
        .withColumn("rn_last", row_number().over(
          w.orderBy(col("t_ts").desc, col("t_id").desc)))
      scored.groupBy(col("ty"))
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("rn_first") === 1, 1L).otherwise(0L))
            .as("first_credit"),
          sum(when(col("rn_last") === 1, 1L).otherwise(0L))
            .as("last_credit"),
          sum(expr("1000 DIV k")).as("linear_milli"))
    },
    Some("""WITH ev AS (
        SELECT user_id, ts, event_id, event_type
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
          AND user_id IS NOT NULL),
      pairs AS (
        SELECT t.event_type AS ty, p.event_id AS p_id,
          t.ts AS t_ts, t.event_id AS t_id
        FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM ev WHERE event_type <> 'purchase') t
          USING (user_id)
        WHERE t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY),
      scored AS (
        SELECT ty, p_id,
          CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS k,
          ROW_NUMBER() OVER (PARTITION BY p_id
            ORDER BY t_ts, t_id) AS rn_first,
          ROW_NUMBER() OVER (PARTITION BY p_id
            ORDER BY t_ts DESC, t_id DESC) AS rn_last
        FROM pairs)
      SELECT ty, CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS first_credit,
        CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS last_credit,
        CAST(SUM(1000 // k) AS BIGINT) AS linear_milli
      FROM scored
      GROUP BY 1"""))

  // ---------------------------------------------------------------
  // x_ml_prf_eval
  // ---------------------------------------------------------------

  /** Per-class precision / recall / F1 + accuracy + macro-F1 from
    * the Naive-Bayes confusion matrix — the classification-eval leg
    * that completes AUC / nDCG / MAP. Pure composition: the ≤C²-row
    * confusion matrix ([[TextOps.naiveBayesConfusion]]) collapses to
    * per-class (tp, fp, fn); every rate is a ratio of exact integers
    * rounded once (F1 = 2tp/(2tp+fp+fn) — no intermediate p·r
    * product); macro-F1 averages the already-rounded per-class F1s
    * identically on both engines. */
  private val x_ml_prf_eval = Q(
    "x_ml_prf_eval",
    (s, d) => {
      val conf = graft.ops.TextOps.naiveBayesConfusion(
        Tables.documents(s, d)
          .filter(col("text").isNotNull && col("lang").isNotNull)
          .select(col("doc_id"), col("lang"), col("text")))
        .localCheckpoint(true) // row/col totals + tp all read it
      val rowTot = conf.groupBy(col("lang").as("cls"))
        .agg(sum(col("n_docs")).as("row_n"))
      val colTot = conf.groupBy(col("pred").as("cls"))
        .agg(sum(col("n_docs")).as("col_n"))
      val tp = conf.filter(col("lang") === col("pred"))
        .select(col("lang").as("cls"), col("n_docs").as("tp"))
      val n = conf.agg(sum(col("n_docs")).as("n_total"))
      val perClass = rowTot.join(colTot, Seq("cls"), "full")
        .join(tp, Seq("cls"), "left")
        .select(col("cls"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          (coalesce(col("col_n"), lit(0L)) - coalesce(col("tp"), lit(0L)))
            .as("fp"),
          (coalesce(col("row_n"), lit(0L)) - coalesce(col("tp"), lit(0L)))
            .as("fn"))
        .withColumn("precision", when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double"), 6)))
        .withColumn("recall", when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(round(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"), 6)))
        .withColumn("f1", when(col("tp") * 2 + col("fp") + col("fn") === 0,
          0.0).otherwise(round(col("tp").cast("double") * 2.0
            / (col("tp") * 2 + col("fp") + col("fn")).cast("double"), 6)))
        .localCheckpoint(true) // emit + the two rollups read it
      val acc = perClass.agg(sum(col("tp")).as("tp_all"))
        .crossJoin(broadcast(n))
        .select(round(col("tp_all").cast("double")
          / col("n_total").cast("double"), 6).as("accuracy"))
      val macroF1 = perClass.agg(round(avg(col("f1")), 6).as("macro_f1"))
      perClass.crossJoin(broadcast(acc)).crossJoin(broadcast(macroF1))
    },
    Some(s"""WITH ${graft.ops.TextOps.naiveBayesConfusionSql(
        "(SELECT doc_id, lang, text FROM documents " +
          "WHERE text IS NOT NULL AND lang IS NOT NULL)")},
      row_tot AS (SELECT lang AS cls, CAST(SUM(n_docs) AS BIGINT) AS row_n
        FROM __nb_conf GROUP BY 1),
      col_tot AS (SELECT pred AS cls, CAST(SUM(n_docs) AS BIGINT) AS col_n
        FROM __nb_conf GROUP BY 1),
      tp AS (SELECT lang AS cls, CAST(n_docs AS BIGINT) AS tp
        FROM __nb_conf WHERE lang = pred),
      per_class AS (
        SELECT cls,
          CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
          CAST(COALESCE(col_n, 0) - COALESCE(tp, 0) AS BIGINT) AS fp,
          CAST(COALESCE(row_n, 0) - COALESCE(tp, 0) AS BIGINT) AS fn
        FROM row_tot FULL JOIN col_tot USING (cls)
        LEFT JOIN tp USING (cls)),
      rated AS (
        SELECT cls, tp, fp, fn,
          CASE WHEN tp + fp = 0 THEN 0.0
            ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
            END AS precision,
          CASE WHEN tp + fn = 0 THEN 0.0
            ELSE ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
            END AS recall,
          CASE WHEN tp * 2 + fp + fn = 0 THEN 0.0
            ELSE ROUND(CAST(tp AS DOUBLE) * 2.0
              / CAST(tp * 2 + fp + fn AS DOUBLE), 6) END AS f1
        FROM per_class),
      acc AS (
        SELECT ROUND(CAST((SELECT SUM(tp) FROM rated) AS DOUBLE)
          / CAST((SELECT SUM(n_docs) FROM __nb_conf) AS DOUBLE), 6) AS accuracy),
      mac AS (SELECT ROUND(AVG(f1), 6) AS macro_f1 FROM rated)
      SELECT cls, tp, fp, fn, precision, recall, f1, accuracy, macro_f1
      FROM rated CROSS JOIN acc CROSS JOIN mac"""))

  // ---------------------------------------------------------------
  // x_events_rfm
  // ---------------------------------------------------------------

  /** RFM customer segmentation (recency / frequency / monetary
    * quintiles over purchasers) — the classic lifecycle-marketing
    * rollup, with every quintile assigned by integer arithmetic over
    * the RANGE-PARTITIONED global row number (the curriculum
    * precedent — no single-task NTILE window at any corpus size):
    * quintile = (rn−1)·5 DIV n + 1. Recency in whole days from the
    * corpus' last purchase date; monetary in exact cents. Emits the
    * ≤125-row segment rollup with exact per-segment mean cents. */
  private val x_events_rfm = Q(
    "x_events_rfm",
    (s, d) => {
      val purch = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("ts").isNotNull
          && col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("cents"))
      val refDay = purch.agg(max(col("day")).as("ref_day"))
      val users = purch.groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("freq"),
          sum(col("cents")).as("mon_cents"))
        .crossJoin(broadcast(refDay))
        .withColumn("recency_days",
          datediff(col("ref_day"), col("last_day")).cast("long"))
        .drop("ref_day")
      val nU = users.agg(count(lit(1)).as("n_users_total"))
      val r1 = Scale.globalRowNumberBy(users,
        Seq(col("recency_days"), col("user_id")))
        .withColumnRenamed("global_rn", "r_rn")
      val r2 = Scale.globalRowNumberBy(r1,
        Seq(col("freq"), col("user_id")))
        .withColumnRenamed("global_rn", "f_rn")
      val r3 = Scale.globalRowNumberBy(r2,
        Seq(col("mon_cents"), col("user_id")))
        .withColumnRenamed("global_rn", "m_rn")
      r3.crossJoin(broadcast(nU))
        .withColumn("rq", expr("CAST((r_rn - 1) * 5 DIV n_users_total" +
          " + 1 AS INT)"))
        .withColumn("fq", expr("CAST((f_rn - 1) * 5 DIV n_users_total" +
          " + 1 AS INT)"))
        .withColumn("mq", expr("CAST((m_rn - 1) * 5 DIV n_users_total" +
          " + 1 AS INT)"))
        .groupBy(col("rq"), col("fq"), col("mq"))
        .agg(count(lit(1)).as("n_users"),
          expr("CAST(SUM(mon_cents) DIV COUNT(*) AS BIGINT)")
            .as("mean_cents"))
    },
    Some("""WITH purch AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND user_id IS NOT NULL AND value IS NOT NULL),
      users AS (
        SELECT user_id, MAX(day) AS last_day,
          CAST(COUNT(*) AS BIGINT) AS freq,
          CAST(SUM(cents) AS BIGINT) AS mon_cents
        FROM purch GROUP BY 1),
      ranked AS (
        SELECT user_id, freq, mon_cents,
          CAST((SELECT MAX(day) FROM purch) - last_day AS BIGINT)
            AS recency_days
        FROM users),
      rn AS (
        SELECT *,
          ROW_NUMBER() OVER (ORDER BY recency_days, user_id) AS r_rn,
          ROW_NUMBER() OVER (ORDER BY freq, user_id) AS f_rn,
          ROW_NUMBER() OVER (ORDER BY mon_cents, user_id) AS m_rn,
          COUNT(*) OVER () AS n_users_total
        FROM ranked)
      SELECT CAST((r_rn - 1) * 5 // n_users_total + 1 AS INTEGER) AS rq,
        CAST((f_rn - 1) * 5 // n_users_total + 1 AS INTEGER) AS fq,
        CAST((m_rn - 1) * 5 // n_users_total + 1 AS INTEGER) AS mq,
        CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(mon_cents) // COUNT(*) AS BIGINT) AS mean_cents
      FROM rn
      GROUP BY 1, 2, 3"""))

  // ---------------------------------------------------------------
  // x_sim_mmr
  // ---------------------------------------------------------------

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — diversified top-5 from the cosine top-20: each round
    * picks argmax λ·rel − (1−λ)·max-sim-to-selected (λ = 0.7), the
    * dedup-aware selection every RAG/few-shot retrieval stack runs
    * after ANN. Relevance and pairwise similarities are 6dp-rounded
    * cosines lifted to exact micro integers, so the per-round score
    * (7·rel − 3·maxsim) DIV 10 and its argmax (tiebreak id) are
    * bit-deterministic; the oracle replays all four selection rounds.
    *
    * Scale shape: ONE corpus scan (the broadcast-query top-20); the
    * candidate pair matrix is ≤ queries·20² rows and every selection
    * round runs on those bounded frames. */
  private val x_sim_mmr = Q(
    "x_sim_mmr",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      val cand = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, k = 20)
        .select(col("query_id"), col("neighbor_id"),
          expr("CAST(ROUND(cosine * 1000000) AS BIGINT)").as("rel_micro"),
          col("rank"))
        .localCheckpoint(true) // pair matrix + every round read it
      val vecs = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("v"))
      val cv = cand.join(vecs, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), col("v"))
      val a = cv.select(col("query_id"), col("neighbor_id").as("a_id"),
        col("v").as("av"))
      val b = cv.select(col("query_id"), col("neighbor_id").as("b_id"),
        col("v").as("bv"))
      val pairs = a.join(b, "query_id")
        .filter(col("a_id") =!= col("b_id"))
        .select(col("query_id"), col("a_id"), col("b_id"),
          round(round(GraftFunctions.dot(col("av"), col("bv"))
            / (sqrt(GraftFunctions.dot(col("av"), col("av")))
              * sqrt(GraftFunctions.dot(col("bv"), col("bv")))), 6)
            * 1000000).cast("long").as("sim_micro"))
        .localCheckpoint(true) // read by each of the 4 rounds
      val seed = cand.filter(col("rank") === 1)
        .select(col("query_id"), lit(1).as("pos"), col("neighbor_id"),
          col("rel_micro"), lit(null).cast("long").as("maxsim_micro"),
          lit(null).cast("long").as("score_micro"))
      val rounds = (2 to 5).scanLeft(seed) { (sel, pos) =>
        val selSet = sel.select(col("query_id"),
          col("neighbor_id").as("b_id"))
        val rem = cand.join(sel.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        val ms = rem
          .join(pairs.withColumnRenamed("a_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .join(selSet, Seq("query_id", "b_id"))
          .groupBy(col("query_id"), col("neighbor_id"), col("rel_micro"))
          .agg(max(col("sim_micro")).as("maxsim_micro"))
          .withColumn("score_micro",
            expr("(rel_micro * 7 - maxsim_micro * 3) DIV 10"))
        val pick = ms.withColumn("rn", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("score_micro").desc, col("neighbor_id"))))
          .filter(col("rn") === 1)
          .select(col("query_id"), lit(pos).as("pos"), col("neighbor_id"),
            col("rel_micro"), col("maxsim_micro"), col("score_micro"))
        sel.unionAll(pick).localCheckpoint(true)
      }
      rounds.last
    },
    Some {
      val round = (prev: String, cur: String, pos: Int) =>
        s"""${cur}_ms AS (
          SELECT c.query_id, c.neighbor_id, c.rel_micro,
            MAX(p.sim_micro) AS maxsim_micro
          FROM cand c
          JOIN pairs p ON p.query_id = c.query_id
            AND p.a_id = c.neighbor_id
          JOIN $prev s ON s.query_id = p.query_id
            AND s.neighbor_id = p.b_id
          WHERE NOT EXISTS (SELECT 1 FROM $prev s2
            WHERE s2.query_id = c.query_id
              AND s2.neighbor_id = c.neighbor_id)
          GROUP BY 1, 2, 3),
        ${cur}_pick AS (
          SELECT query_id, $pos AS pos, neighbor_id, rel_micro,
            maxsim_micro,
            (rel_micro * 7 - maxsim_micro * 3) // 10 AS score_micro
          FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY (rel_micro * 7 - maxsim_micro * 3) // 10 DESC,
                neighbor_id) AS rn
            FROM ${cur}_ms)
          WHERE rn = 1),
        $cur AS (
          SELECT query_id, pos, neighbor_id, rel_micro, maxsim_micro,
            score_micro
          FROM $prev
          UNION ALL
          SELECT query_id, pos, neighbor_id, rel_micro, maxsim_micro,
            score_micro
          FROM ${cur}_pick)"""
      s"""WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 3),
      scored AS (
        SELECT query_id, vec_id AS neighbor_id,
          ROUND(list_inner_product(qv, v)
            / (sqrt(list_inner_product(qv, qv))
             * sqrt(list_inner_product(v, v))), 6) AS cosine
        FROM emb, q WHERE query_id <> vec_id),
      cand AS (
        SELECT query_id, neighbor_id,
          CAST(ROUND(cosine * 1000000) AS BIGINT) AS rel_micro,
          rank FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
          FROM scored)
        WHERE rank <= 20),
      pairs AS (
        SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
          CAST(ROUND(ROUND(list_inner_product(av.v, bv.v)
            / (sqrt(list_inner_product(av.v, av.v))
             * sqrt(list_inner_product(bv.v, bv.v))), 6) * 1000000)
            AS BIGINT) AS sim_micro
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id
          AND a.neighbor_id <> b.neighbor_id
        JOIN emb av ON av.vec_id = a.neighbor_id
        JOIN emb bv ON bv.vec_id = b.neighbor_id),
      sel1 AS (
        SELECT query_id, 1 AS pos, neighbor_id, rel_micro,
          CAST(NULL AS BIGINT) AS maxsim_micro,
          CAST(NULL AS BIGINT) AS score_micro
        FROM cand WHERE rank = 1),
      ${round("sel1", "sel2", 2)},
      ${round("sel2", "sel3", 3)},
      ${round("sel3", "sel4", 4)},
      ${round("sel4", "sel5", 5)}
      SELECT query_id, pos, neighbor_id, rel_micro, maxsim_micro,
        score_micro
      FROM sel5"""
    })

  // ---------------------------------------------------------------
  // x_events_survival
  // ---------------------------------------------------------------

  /** Nelson–Aalen cumulative hazard of time-to-first-purchase — the
    * survival-analysis rollup ("how fast do users convert, with
    * censoring done right"): per user, duration = days from first
    * event to first purchase, right-censored at the corpus horizon
    * for users who never convert. The Nelson–Aalen estimator
    * H(t) = Σ_{t'≤t} d_{t'}/n_{t'} is the fixed-point-friendly
    * choice: each hazard increment is ONE micro-rounded ratio of
    * exact integers and H is their exact BIGINT cumulative sum
    * (Kaplan–Meier's product form would need exp/ln round-trips).
    *
    * Scale shape: the corpus collapses to per-user (t0, tp) min
    * aggregates, then to the duration-day frame (calendar-bounded);
    * the at-risk count n_t is a reverse cumulative sum over that
    * frame. */
  private val x_events_survival = Q(
    "x_events_survival",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val horizon = ev.agg(max(to_date(col("ts"))).as("h_day"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("t0"),
          min(when(col("event_type") === "purchase", to_date(col("ts"))))
            .as("tp"))
        .crossJoin(broadcast(horizon))
        .select(
          coalesce(datediff(col("tp"), col("t0")),
            datediff(col("h_day"), col("t0"))).cast("long").as("t"),
          col("tp").isNotNull.as("converted"))
      val byT = users.groupBy(col("t"))
        .agg(sum(when(col("converted"), 1L).otherwise(0L)).as("d_events"),
          sum(when(col("converted"), 0L).otherwise(1L)).as("n_censored"))
      val wRisk = Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT
        .withColumn("n_risk",
          sum(col("d_events") + col("n_censored")).over(wRisk))
        .withColumn("hazard_micro", expr(
          "CAST(ROUND(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)" +
            " * 1000000) AS BIGINT)"))
        .withColumn("cum_hazard_micro", sum(col("hazard_micro")).over(wCum))
        .select(col("t"), col("n_risk"), col("d_events"), col("n_censored"),
          col("hazard_micro"), col("cum_hazard_micro"))
    },
    Some("""WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      hz AS (SELECT MAX(day) AS h_day FROM ev),
      users AS (
        SELECT user_id, MIN(day) AS t0,
          MIN(CASE WHEN event_type = 'purchase' THEN day END) AS tp
        FROM ev GROUP BY 1),
      durs AS (
        SELECT CAST(COALESCE(tp - t0, h_day - t0) AS BIGINT) AS t,
          tp IS NOT NULL AS converted
        FROM users CROSS JOIN hz),
      by_t AS (
        SELECT t,
          CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
            AS d_events,
          CAST(SUM(CASE WHEN converted THEN 0 ELSE 1 END) AS BIGINT)
            AS n_censored
        FROM durs GROUP BY 1),
      risk AS (
        SELECT t, d_events, n_censored,
          CAST(SUM(d_events + n_censored) OVER (ORDER BY t
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
            AS n_risk
        FROM by_t),
      haz AS (
        SELECT *, CAST(ROUND(CAST(d_events AS DOUBLE)
          / CAST(n_risk AS DOUBLE) * 1000000) AS BIGINT) AS hazard_micro
        FROM risk)
      SELECT t, n_risk, d_events, n_censored, hazard_micro,
        CAST(SUM(hazard_micro) OVER (ORDER BY t) AS BIGINT)
          AS cum_hazard_micro
      FROM haz"""))

  // ---------------------------------------------------------------
  // x_stream_chained_windows
  // ---------------------------------------------------------------

  /** Batch–stream parity for CHAINED stateful window aggregations
    * ([[graft.streaming.EventStream.chainedDailyRollup]]): hourly
    * counts re-windowed into a daily rollup inside one streaming
    * query — the multiple-stateful-operator shape Spark 3.4 unlocked
    * (pre-3.4 the hourly layer needed its own sink + a second query).
    * Append mode means a daily window emits only once the watermark
    * (max ts − 10 min) passes its end, so the trailing partial day is
    * withheld BY DESIGN; the oracle replays exactly that boundary
    * from max(ts). n_hours counts the distinct non-empty hours that
    * fed each day — proof the first window layer really ran. */
  private val x_stream_chained_windows = Q(
    "x_stream_chained_windows",
    (s, d) => EventStream.drain(s, "x_stream_chained_windows", "append")(
      EventStream.chainedDailyRollup(SeriesFixtures.eventStream(s, d))),
    Some("""WITH mx AS (
        SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events
        WHERE ts IS NOT NULL)
      SELECT date_trunc('day', ts) AS day_start, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours
      FROM events CROSS JOIN mx
      WHERE ts IS NOT NULL
        AND date_trunc('day', ts) + INTERVAL 1 DAY <= wm
      GROUP BY 1, 2"""))

  // ---------------------------------------------------------------
  // x_text_burstiness
  // ---------------------------------------------------------------

  /** Term burstiness (Church & Gale): the variance-to-mean ratio of a
    * term's per-document counts over ALL documents — the
    * template/boilerplate detector (a Poisson-scattered content word
    * sits near VMR 1; a term that slams 50 occurrences into a handful
    * of docs is bursty and usually machinery). Zeros cost nothing:
    * VMR = (N·Σc² − tf²)/(N·tf) needs only the three combinable sums
    * over DOCS CONTAINING the term, with N a broadcast corpus count —
    * the factors combine in double from exact BIGINTs (the zipf
    * lesson: N·Σc² overflows BIGINT at corpus scale). Top-50 by
    * (VMR, term) via TakeOrdered over the tf ≥ 100 frame. */
  private val x_text_burstiness = Q(
    "x_text_burstiness",
    (s, d) => {
      val perDoc = Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      val nDocs = Tables.documents(s, d).filter(col("text").isNotNull)
        .agg(count(lit(1)).as("n_docs_total"))
      val stats = perDoc.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
          sum(col("c") * col("c")).as("tf2"))
        .filter(col("tf") >= 100)
        .crossJoin(broadcast(nDocs))
        .withColumn("vmr_micro", expr(
          """CAST(ROUND((CAST(n_docs_total AS DOUBLE) * CAST(tf2 AS DOUBLE)
            |  - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE))
            |  / (CAST(n_docs_total AS DOUBLE) * CAST(tf AS DOUBLE))
            |  * 1000000) AS BIGINT)""".stripMargin))
      val top = stats.orderBy(col("vmr_micro").desc, col("term")).limit(50)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("vmr_micro").desc, col("term"))).cast("int"))
        .select(col("rank"), col("term"), col("df"), col("tf"),
          col("vmr_micro"))
    },
    Some(s"""WITH per_doc AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS term
          FROM documents WHERE text IS NOT NULL)
        GROUP BY 1, 2),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total
        FROM documents WHERE text IS NOT NULL),
      stats AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
          CAST(SUM(c) AS BIGINT) AS tf,
          CAST(SUM(c * c) AS BIGINT) AS tf2
        FROM per_doc GROUP BY 1),
      scored AS (
        SELECT term, df, tf,
          CAST(ROUND((CAST(n_docs_total AS DOUBLE) * CAST(tf2 AS DOUBLE)
            - CAST(tf AS DOUBLE) * CAST(tf AS DOUBLE))
            / (CAST(n_docs_total AS DOUBLE) * CAST(tf AS DOUBLE))
            * 1000000) AS BIGINT) AS vmr_micro
        FROM stats CROSS JOIN nd WHERE tf >= 100)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vmr_micro DESC, term)
          AS INTEGER) AS rank,
        term, df, tf, vmr_micro
      FROM scored
      QUALIFY rank <= 50"""))

  // ---------------------------------------------------------------
  // x_ml_gmm_estep
  // ---------------------------------------------------------------

  /** One GMM E-step (spherical, unit variance, uniform priors) —
    * k-means assignment's SOFT sibling: responsibilities
    * r_k ∝ exp(−(d²_k − d²_min)/2) computed per point against 4
    * deterministic modulus-sampled centers (the IVF centroid
    * precedent), each exp term micro-rounded BEFORE normalizing so
    * the normalization itself is exact integer arithmetic
    * (r_milli = t_micro·1000 DIV Σt_micro) — the same
    * one-transcendental-then-quantize discipline as the ln/PMI
    * family. Emits the per-center rollup: hard-assignment count and
    * the exact mean soft responsibility.
    *
    * Scale shape: 4 broadcast centers, one map-side kernel pass, one
    * combinable rollup — the kmeans-step posture. */
  private val x_ml_gmm_estep = Q(
    "x_ml_gmm_estep",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val centers = emb.filter(col("vec_id") % 97 === 0)
        .orderBy(col("vec_id")).limit(4)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val d2 = emb.crossJoin(broadcast(centers))
        .select(col("vec_id"), col("cid"),
          round((GraftFunctions.dot(col("v"), col("v"))
            + GraftFunctions.dot(col("cv"), col("cv"))
            - lit(2.0) * GraftFunctions.dot(col("v"), col("cv"))) * 1000000)
            .cast("long").as("d2_micro"))
      val withMin = d2.withColumn("d2_min",
        min(col("d2_micro")).over(Window.partitionBy(col("vec_id"))))
        .withColumn("t_micro", expr(
          "CAST(ROUND(EXP(-CAST(d2_micro - d2_min AS DOUBLE) / 2000000.0)" +
            " * 1000000) AS BIGINT)"))
      val resp = withMin
        .withColumn("t_sum",
          sum(col("t_micro")).over(Window.partitionBy(col("vec_id"))))
        .withColumn("r_milli", expr("t_micro * 1000 DIV t_sum"))
      resp.groupBy(col("vec_id"))
        .agg(min_by(col("cid"), struct(-col("r_milli"), col("cid")))
          .as("best_cid"),
          max(col("r_milli")).as("r_best_milli"))
        .groupBy(col("best_cid").as("cid"))
        .agg(count(lit(1)).as("n_assigned"),
          expr("CAST(SUM(r_best_milli) DIV COUNT(*) AS BIGINT)")
            .as("mean_r_milli"))
    },
    Some("""WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      centers AS (
        SELECT vec_id AS cid, v AS cv FROM emb
        WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 4),
      d2 AS (
        SELECT vec_id, cid,
          CAST(ROUND((list_inner_product(v, v) + list_inner_product(cv, cv)
            - 2 * list_inner_product(v, cv)) * 1000000) AS BIGINT)
            AS d2_micro
        FROM emb CROSS JOIN centers),
      wm AS (
        SELECT *, CAST(MIN(d2_micro) OVER (PARTITION BY vec_id) AS BIGINT)
          AS d2_min
        FROM d2),
      t AS (
        SELECT *, CAST(ROUND(EXP(-CAST(d2_micro - d2_min AS DOUBLE)
          / 2000000.0) * 1000000) AS BIGINT) AS t_micro
        FROM wm),
      resp AS (
        SELECT *, CAST(SUM(t_micro) OVER (PARTITION BY vec_id) AS BIGINT)
          AS t_sum
        FROM t),
      best AS (
        SELECT vec_id, cid AS best_cid,
          t_micro * 1000 // t_sum AS r_milli,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY t_micro * 1000 // t_sum DESC, cid) AS rn
        FROM resp)
      SELECT best_cid AS cid, CAST(COUNT(*) AS BIGINT) AS n_assigned,
        CAST(SUM(r_milli) // COUNT(*) AS BIGINT) AS mean_r_milli
      FROM best WHERE rn = 1
      GROUP BY 1"""))

  // ---------------------------------------------------------------
  // x_ts_seasonal_strength
  // ---------------------------------------------------------------

  /** Seasonality / trend strength (Hyndman & Athanasopoulos, FPP):
    * F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) over the STL components — the
    * single-number "does this series have real weekly structure?"
    * gate a forecasting pipeline branches on. Composes
    * [[Stats.stlDecompose]] on the full-window days; variances are
    * population form (n·Σx² − (Σx)²)/n² with factors combined in
    * double from exact milli BIGINTs (the zipf overflow lesson). */
  private val x_ts_seasonal_strength = Q(
    "x_ts_seasonal_strength",
    (s, d) => {
      val comp = graft.ops.Stats.stlDecompose(SeriesFixtures.dailyEvents(s, d))
        .filter(col("trend_milli").isNotNull)
        .select(col("residual_milli").as("r"),
          (col("seasonal_milli") + col("residual_milli")).as("sr"),
          (col("trend_milli") + col("residual_milli")).as("tr"))
      def varExpr(c: String) =
        s"""(CAST(n AS DOUBLE) * CAST(s2_$c AS DOUBLE)
           |  - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))
           |/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))""".stripMargin
      // squared milli sums widened to DECIMAL(38,0): Σ(sr²) crosses
      // BIGINT around ~1e6 events/day over a year (sr ~ 1e9 milli →
      // sr² ~ 1e18 per day), while DuckDB SUM auto-promotes to
      // HUGEINT — the same widening discipline as spearman/anova. The
      // per-row product itself stays BIGINT-exact to |x| ≤ 3e9 milli
      // (~3e6 events/day); past that the milli scale must drop first.
      def sq(c: String) =
        sum((col(c) * col(c)).cast("decimal(38,0)")).as(s"s2_$c")
      comp.agg(count(lit(1)).as("n"),
          sum(col("r")).as("s_r"), sq("r"),
          sum(col("sr")).as("s_sr"), sq("sr"),
          sum(col("tr")).as("s_tr"), sq("tr"))
        .select(col("n"),
          expr(s"ROUND(GREATEST(0.0, 1.0 - (${varExpr("r")})" +
            s" / (${varExpr("sr")})), 6)").as("f_seasonal"),
          expr(s"ROUND(GREATEST(0.0, 1.0 - (${varExpr("r")})" +
            s" / (${varExpr("tr")})), 6)").as("f_trend"))
    },
    Some {
      val varSql = (c: String) =>
        s"""(CAST(n AS DOUBLE) * CAST(s2_$c AS DOUBLE)
           - CAST(s_$c AS DOUBLE) * CAST(s_$c AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"""
      s"""WITH ${SeriesFixtures.dailyEventsSql},
      ${graft.ops.Stats.stlDecomposeSql("daily")},
      comp AS (
        SELECT residual_milli AS r,
          seasonal_milli + residual_milli AS sr,
          trend_milli + residual_milli AS tr
        FROM stl WHERE trend_milli IS NOT NULL),
      sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(r) AS BIGINT) AS s_r,
          CAST(SUM(r * r) AS DECIMAL(38,0)) AS s2_r,
          CAST(SUM(sr) AS BIGINT) AS s_sr,
          CAST(SUM(sr * sr) AS DECIMAL(38,0)) AS s2_sr,
          CAST(SUM(tr) AS BIGINT) AS s_tr,
          CAST(SUM(tr * tr) AS DECIMAL(38,0)) AS s2_tr
        FROM comp)
      SELECT n,
        ROUND(GREATEST(0.0, 1.0 - (${varSql("r")}) / (${varSql("sr")})), 6)
          AS f_seasonal,
        ROUND(GREATEST(0.0, 1.0 - (${varSql("r")}) / (${varSql("tr")})), 6)
          AS f_trend
      FROM sums"""
    })

  // ---------------------------------------------------------------
  // x_graph_powerlaw_alpha
  // ---------------------------------------------------------------

  /** Power-law degree-exponent estimate (Hill / Clauset-style MLE
    * with the continuous correction): α = 1 + n_tail / Σ ln(d/4.5)
    * over nodes of degree ≥ dmin = 5 in the customer–supplier order
    * graph — the "is this graph scale-free?" summary a graph-corpus
    * profile reports. One combinable degree groupBy over the edges,
    * one ln per tail node micro-rounded (the PMI discipline), the α
    * division once in double. */
  private val x_graph_powerlaw_alpha = Q(
    "x_graph_powerlaw_alpha",
    (s, d) => {
      val deg = GraphFixtures.trade(s, d)
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val tail = deg.filter(col("deg") >= 5)
        .select(expr("""CAST(ROUND(LN(CAST(deg AS DOUBLE) / 4.5)
          | * 1000000) AS BIGINT)""".stripMargin).as("ln_micro"))
      val degStats = deg.agg(count(lit(1)).as("n_nodes"),
        max(col("deg")).as("max_deg"),
        expr("CAST(SUM(deg) * 1000 DIV COUNT(*) AS BIGINT)")
          .as("mean_deg_milli"))
      tail.agg(count(lit(1)).as("n_tail"),
          sum(col("ln_micro")).as("s_ln"))
        .crossJoin(broadcast(degStats))
        .select(col("n_nodes"), col("max_deg"), col("mean_deg_milli"),
          col("n_tail"),
          expr("""CAST(ROUND((1.0 + CAST(n_tail AS DOUBLE) * 1000000.0
            | / CAST(s_ln AS DOUBLE)) * 1000000) AS BIGINT)"""
            .stripMargin).as("alpha_micro"))
    },
    Some(s"""WITH ${GraphFixtures.tradeSql},
      deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT src AS node FROM trade UNION ALL SELECT dst FROM trade)
        GROUP BY 1),
      ds AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
          CAST(MAX(deg) AS BIGINT) AS max_deg,
          CAST(SUM(deg) * 1000 // COUNT(*) AS BIGINT) AS mean_deg_milli
        FROM deg),
      tail AS (
        SELECT CAST(ROUND(LN(CAST(deg AS DOUBLE) / 4.5) * 1000000)
          AS BIGINT) AS ln_micro
        FROM deg WHERE deg >= 5)
      SELECT n_nodes, max_deg, mean_deg_milli,
        CAST(COUNT(*) AS BIGINT) AS n_tail,
        CAST(ROUND((1.0 + CAST(COUNT(*) AS DOUBLE) * 1000000.0
          / CAST(SUM(ln_micro) AS DOUBLE)) * 1000000) AS BIGINT)
          AS alpha_micro
      FROM tail CROSS JOIN ds
      GROUP BY 1, 2, 3"""))

  // ---------------------------------------------------------------
  // x_ts_forecast_baselines
  // ---------------------------------------------------------------

  /** Forecast-baseline evaluation over the monthly order series —
    * the MASE denominators every forecasting benchmark needs
    * (Hyndman & Koehler 2006): per priority, the in-sample MAE of
    * the naive lag-1 forecast and the seasonal-naive lag-12
    * forecast, plus their ratio (seasonal/naive < 1 ⇔ the yearly
    * cycle carries signal). Exact integers: MAE_milli =
    * Σ|Δ|·1000 DIV n over the calendar-bounded month frame; the
    * ratio is one rounded division of exact milli values. */
  private val x_ts_forecast_baselines = Q(
    "x_ts_forecast_baselines",
    (s, d) => {
      val series = SeriesFixtures.monthlyOrders(s, d)
      val w = Window.partitionBy(col("priority")).orderBy(col("ym"))
      val lagged = series
        .withColumn("l1", lag(col("n"), 1).over(w))
        .withColumn("l12", lag(col("n"), 12).over(w))
      lagged.groupBy(col("priority"))
        .agg(count(lit(1)).as("n_months"),
          count(col("l1")).as("n_naive"),
          count(col("l12")).as("n_seasonal"),
          sum(abs(col("n") - col("l1"))).as("sad1"),
          sum(abs(col("n") - col("l12"))).as("sad12"))
        .select(col("priority"), col("n_months"),
          // degenerate-data guards, mirrored in the oracle: a <2-month
          // key has n_naive = 0, a <13-month key n_seasonal = 0, and a
          // perfectly flat series sad1 = 0 — each divide is
          // engine-divergent unguarded, so NULL is the agreed sentinel
          expr("""CASE WHEN n_naive > 0
            | THEN CAST(sad1 * 1000 DIV n_naive AS BIGINT) END"""
            .stripMargin).as("mae_naive_milli"),
          expr("""CASE WHEN n_seasonal > 0
            | THEN CAST(sad12 * 1000 DIV n_seasonal AS BIGINT) END"""
            .stripMargin).as("mae_seasonal_milli"),
          expr("""CASE WHEN n_naive > 0 AND n_seasonal > 0 AND sad1 > 0
            | THEN ROUND(CAST(sad12 * 1000 DIV n_seasonal AS DOUBLE)
            |   / CAST(sad1 * 1000 DIV n_naive AS DOUBLE), 6) END"""
            .stripMargin).as("seasonal_vs_naive"))
    },
    Some(s"""WITH ${SeriesFixtures.monthlyOrdersSql},
      lagged AS (
        SELECT priority, n,
          LAG(n, 1) OVER w AS l1, LAG(n, 12) OVER w AS l12
        FROM series
        WINDOW w AS (PARTITION BY priority ORDER BY ym))
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_months,
        CASE WHEN COUNT(l1) > 0 THEN
          CAST(SUM(abs(n - l1)) * 1000 // COUNT(l1) AS BIGINT)
          END AS mae_naive_milli,
        CASE WHEN COUNT(l12) > 0 THEN
          CAST(SUM(abs(n - l12)) * 1000 // COUNT(l12) AS BIGINT)
          END AS mae_seasonal_milli,
        CASE WHEN COUNT(l1) > 0 AND COUNT(l12) > 0
            AND SUM(abs(n - l1)) > 0 THEN
          ROUND(CAST(SUM(abs(n - l12)) * 1000 // COUNT(l12) AS DOUBLE)
            / CAST(SUM(abs(n - l1)) * 1000 // COUNT(l1) AS DOUBLE), 6)
          END AS seasonal_vs_naive
      FROM lagged
      GROUP BY 1"""))

  val all: Seq[Q] = Seq(
    x_dedup_suffix_spans,
    x_graph_louvain_move,
    x_ml_prf_eval,
    x_events_rfm,
    x_events_survival,
    x_stream_chained_windows,
    x_text_burstiness,
    x_ml_gmm_estep,
    x_ts_seasonal_strength,
    x_graph_powerlaw_alpha,
    x_ts_forecast_baselines,
    x_sim_mmr,
    x_text_jensen_shannon,
    x_events_attribution,
    x_text_zipf_fit,
    x_ts_stl_decompose,
    x_graph_modularity,
    x_text_heaps_law,
    x_dedup_cdc_chunking,
    x_ts_holt,
    x_graph_random_walk,
    x_ml_kmeans_par_init,
    x_text_kneser_ney,
    x_ml_naive_bayes,
    x_eval_map_mrr,
    x_text_rouge,
    x_dedup_dup_spans,
    x_curation_dsir,
    x_sim_prefix_rerank,
    x_embed_whitening,
    x_scale_zonemap,
    x_layout_hilbert,
    x_ts_ewma,
    x_text_bpe_train,
    x_text_textrank,
    x_graph_boruvka,
    x_text_chao1,
    x_embed_fisher,
    x_text_bpe_apply)
}
