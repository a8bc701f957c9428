package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.core.Confs
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — extension tier (the reference has no vector ops;
  * this is the similarity-search leg of the LLM-data-pipeline surface).
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is expected
  *     to be small (it is broadcast), so the work is one pass over the
  *     corpus per batch of queries — the correct baseline up to a few
  *     thousand queries even at large corpus scale.
  *   - [[lshTopK]]: random-hyperplane LSH bucketing; candidates are only
  *     the corpus vectors sharing the query's bucket, so the join is an
  *     equi-join on the signature and the per-query work drops by the
  *     bucket-count factor (recall < 1, tunable by `planes`).
  *
  * Dot products use higher-order array expressions in double precision
  * (sequential fold per row — deterministic), no UDFs. Norms are
  * precomputed per vector BEFORE the pair join (norm work is O(corpus),
  * not O(pairs)), and the double-cast array is materialized once per row
  * — lambda-referenced expressions re-evaluate per element, so staging
  * is what keeps the per-pair cost at one O(dim) fold.
  */
object Similarity {

  /** Adds `vecOut: array<double>` (exact float→double widening) and
    * `normOut: double` (L2 norm) for an embedding column, and DROPS
    * zero-norm vectors: cosine against them is 0/0 = NaN, and NaN sorts
    * ABOVE every real double in Spark — one all-zero embedding would
    * otherwise become the rank-1 "neighbor" of every query. Excluding
    * them is the only self-consistent cosine semantics. */
  private def withVecNorm(df: DataFrame, embedding: Column,
                          vecOut: String, normOut: String): DataFrame =
    df.withColumn(vecOut, transform(embedding, x => x.cast("double")))
      .withColumn(normOut, sqrt(dot(col(vecOut), col(vecOut))))
      .filter(col(normOut) > 0.0)

  /** Dot product of two materialized array<double> ATTRIBUTES — the
    * native codegen'd kernel (graft.functions.GraftFunctions.dot).
    * Bit-identical to the `aggregate(zip_with(...))` left-to-right fold, but the inner
    * loop JIT-compiles instead of interpreting two lambda trees per
    * element — this sits under every scored candidate pair, and under
    * every corpus×centroid product in [[ivfTopK]]. */
  def dot(a: Column, b: Column): Column = GraftFunctions.dot(a, b)

  /** Exact top-k neighbors per query vector by cosine, deterministic
    * tiebreak on neighbor id; cosine rounded to 6dp BEFORE ranking so
    * ordering is robust to engine-level float summation differences.
    * `queries` is broadcast — the corpus is streamed once, never
    * materialized per query. Self-matches excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = withVecNorm(queries.select(col("vec_id").as("query_id"),
      col("embedding")), col("embedding"), "qv", "qn").drop("embedding")
    val c = withVecNorm(corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding")), col("embedding"), "cv", "cn").drop("embedding")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB query replaying [[bruteForceTopK]] over the `embeddings`
    * table: every non-self pair of a query (selected by `queryPred`,
    * e.g. "vec_id < 10") and a corpus vector is scored, and the top k
    * per query are kept as (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopKSql(queryPred: String, k: Int): String =
    s"""WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE $queryPred),
    c AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
        ROUND(list_inner_product(qv, cv)
          / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
          6) AS cosine
      FROM c, q WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cosine,
      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
        AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= $k"""

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine ≥ minCosine, a.vec_id < b.vec_id. Candidates come from a
    * bucket equi-join on hyperplane sign-signatures of `tables`
    * independent LSH tables (union, deduped) — the same lossless-in-
    * expectation trade as minhash LSH: recall rises with `tables`,
    * candidate volume falls with `planes`. Set `tables = 0` for exact
    * brute force within the corpus (O(n²) — only for modest n or as
    * the ground-truth oracle path). */
  def cosinePairs(corpus: DataFrame, minCosine: Double,
                  planes: Int = 4, tables: Int = 8, seed: Long = 42L,
                  dim: Int = 64): DataFrame = {
    val c = withVecNorm(corpus.select(col("vec_id"), col("embedding")),
      col("embedding"), "v", "n").drop("embedding")
    val cands =
      if (tables <= 0) {
        c.select(col("vec_id").as("id_a")).crossJoin(c.select(col("vec_id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
      } else {
        val hp = (0 until tables).map(t => hyperplanes(planes, dim, seed + t))
        val banded = c.select(col("vec_id"),
            explode(array((0 until tables).map(t =>
              struct(lit(t).as("tbl"),
                lshBucket(col("v"), hp(t)).as("bucket"))): _*)).as("tb"))
          .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        banded.as("x").join(banded.as("y"), Seq("tbl", "bucket"))
          .filter(col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
          .distinct()
      }
    cands
      .join(c.select(col("vec_id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(c.select(col("vec_id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023, arXiv
    * 2303.09540): cluster the corpus around a FIXED set of centroids,
    * pick one REPRESENTATIVE per cluster (the member nearest its
    * centroid), and flag every other member whose cosine to its
    * cluster's representative clears `minCosine` as a semantic
    * duplicate. Near-identical meaning lands in the same cluster, so
    * the comparison graph is member-vs-representative — O(n) cosine
    * evaluations total, NOT the O(Σ|cluster|²) of full within-cluster
    * pairwise (that variant exists as [[cosinePairs]] with cluster-id
    * blocking); at 100 TB the rep-comparison form is the one that
    * keeps the work scan-linear no matter how the cluster sizes skew.
    *
    * Determinism: assignment is [[kmeansAssign]] (6dp-rounded d2,
    * centroid-id tiebreak); the representative is the min (d2, id)
    * member — both total orders, so a SQL engine replays the whole
    * selection. Zero-norm members are dropped (cosine undefined); a
    * zero-norm representative drops its cluster's members with it —
    * mirrored exactly by the oracle.
    *
    * Output: one row per non-representative member —
    * (id, cid, rep_id, cosine, is_dup). The centroid frame is expected
    * to be k rows (broadcast twice: once inside kmeansAssign, once as
    * the rep-vector side of the cosine join). */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame, minCosine: Double,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val assign = kmeansAssign(corpus, centroids, id, vec)
    val rep = assign.groupBy(col("cid"))
      .agg(min(struct(col("d2"), col(id))).as("__best"))
      .select(col("cid"), col("__best").getField(id).as("rep_id"))
    val vecs = withVecNorm(corpus.select(col(id), col(vec)),
      col(vec), "__mv", "__mn").drop(vec)
    val repVecs = broadcast(rep
      .join(vecs.select(col(id).as("rep_id"), col("__mv").as("__rv"),
        col("__mn").as("__rn")), Seq("rep_id")))
    assign.join(vecs, Seq(id))
      .join(repVecs, Seq("cid"))
      .filter(col(id) =!= col("rep_id"))
      .select(col(id), col("cid"), col("rep_id"),
        round(dot(col("__mv"), col("__rv")) / (col("__mn") * col("__rn")), 6)
          .as("cosine"))
      .withColumn("is_dup", col("cosine") >= minCosine)
  }

  /** Deterministic random hyperplanes: `planes` × `dim` Gaussian weights
    * from a fixed seed, as a literal nested array (driver-side constant,
    * broadcast with the plan — no data-dependent state). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-signature bucket id of a materialized array<double> ATTRIBUTE
    * under the given planes: bit p = [dot(v, plane_p) > 0]. Row-local.
    *
    * FAILS LOUDLY on a vector whose length differs from the planes'
    * dimension: zip_with would null-pad the shorter side, the fold would
    * go null, every `when` would be false, and EVERY vector would
    * silently land in bucket 0 — degenerating the band equi-join into a
    * full self-join (the exact O(n²) blowup LSH exists to avoid). */
  def lshBucket(vAttr: Column, planes: Seq[Seq[Double]]): Column = {
    val dim = planes.head.size
    val checked = when(size(vAttr) === dim, vAttr)
      .otherwise(raise_error(concat(
        lit(s"lshBucket: expected embedding dim $dim, got "),
        size(vAttr).cast("string"))))
    planes.zipWithIndex.map { case (p, i) =>
      val d = aggregate(zip_with(checked, typedlit(p), (x, w) => x * w),
        lit(0.0), (acc, t) => acc + t)
      when(d > 0, shiftleft(lit(1), i)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** ANN top-k via MULTI-TABLE hyperplane LSH: `tables` independent sets
    * of `planes` hyperplanes; a corpus vector is a candidate for a query
    * iff they share a bucket in ANY table (union of per-table equi-joins,
    * realized as one join on (table, bucket)). Per-table collision
    * probability for angle θ is (1-θ/π)^planes, so tables trade recall
    * against the 2^planes candidate reduction — the standard knob pair.
    * Candidates are deduplicated BEFORE scoring, so each pair is scored
    * once no matter how many tables it collides in. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 4, tables: Int = 8, seed: Long = 42L,
              dim: Int = 64): DataFrame = {
    val allPlanes = (0 until tables).map(t => hyperplanes(planes, dim, seed + t))
    def prep(df: DataFrame, idAs: String, vecAs: String, normAs: String) =
      withVecNorm(df.select(col("vec_id").as(idAs), col("embedding")),
        col("embedding"), vecAs, normAs).drop("embedding")
    def banded(df: DataFrame, idCol: String, vecAs: String) =
      df.select(col(idCol),
          explode(array((0 until tables).map(t =>
            struct(lit(t).as("tbl"),
              lshBucket(col(vecAs), allPlanes(t)).as("bucket"))): _*)).as("tb"))
        .select(col(idCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = prep(queries, "query_id", "qv", "qn")
    val c = prep(corpus, "neighbor_id", "cv", "cn")
    val cands = banded(c, "neighbor_id", "cv")
      .join(broadcast(banded(q, "query_id", "qv")), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val scored = cands
      .join(c, "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** DuckDB query replaying [[lshTopK]] end-to-end over the
    * `embeddings` table: the SAME hyperplane constants the Spark plan
    * carries as literals are re-emitted here via Double.toString (which
    * round-trips exactly, and DuckDB parses to the identical double), so
    * signatures, buckets, the candidate set and the ranking are all
    * independently recomputed. Both engines evaluate the plane dot
    * product as the same left-to-right IEEE fold. `querySql` selects the
    * query ids (e.g. "vec_id < 10"). */
  def lshTopKSql(querySql: String, k: Int, planes: Int = 4, tables: Int = 8,
                 seed: Long = 42L, dim: Int = 64): String = {
    val allPlanes = (0 until tables).map(t => hyperplanes(planes, dim, seed + t))
    def planeLit(p: Seq[Double]): String =
      p.map(java.lang.Double.toString).mkString("[", ", ", "]")
    def bucketExpr(t: Int): String =
      allPlanes(t).zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_inner_product(v, ${planeLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
    val arms = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bucket FROM n")
      .mkString("\n      UNION ALL ")
    s"""WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    n AS (
      SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm
      FROM v WHERE sqrt(list_inner_product(v, v)) > 0),
    buckets AS (
      $arms),
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets c JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE q.vec_id IN (SELECT vec_id FROM n WHERE $querySql)
        AND q.vec_id <> c.vec_id),
    scored AS (
      SELECT query_id, neighbor_id,
        ROUND(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
      FROM cands
      JOIN n q ON cands.query_id = q.vec_id
      JOIN n c ON cands.neighbor_id = c.vec_id)
    SELECT query_id, neighbor_id, cosine,
      CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
        AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= $k"""
  }

  /** IVF-Flat ANN (the inverted-file index of Sivic & Zisserman '03 /
    * FAISS IVF): coarse-quantize the corpus into cells by argmax-cosine
    * against a bounded centroid set, then answer each query by scanning
    * only its `nprobe` closest cells.
    *
    * `centroids` is any bounded deterministic subset of the corpus (the
    * caller picks, e.g. `vec_id % stride = 0`). All steps are
    * DataFrame ops with no driver collect:
    *   - assignment: corpus × broadcast(centroids) nested-loop product,
    *     reduced to one row per vector by a map-side-combinable `max_by`
    *     hash aggregate — the raw product never reaches a shuffle;
    *   - probe lists: same product on the (small) query side, top-nprobe
    *     cells per query;
    *   - candidates: equi-join on cell id → ~nprobe/nlist of the corpus
    *     scored per query, vs 1.0 for brute force.
    * `nprobe >= nlist` degrades gracefully to exact brute force
    * (SimilaritySpec proves bit-equality to [[bruteForceTopK]]); recall
    * at nprobe < nlist is the IVF trade, checked in the same spec.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe > 0, "nprobe must be positive")
    val cent = broadcast(
      withVecNorm(centroids.select(col("vec_id").as("cell_id"), col("embedding")),
        col("embedding"), "ev", "en").drop("embedding"))
    def cellScored(df: DataFrame, idAs: String, vecAs: String, normAs: String) =
      withVecNorm(df.select(col("vec_id").as(idAs), col("embedding")),
        col("embedding"), vecAs, normAs).drop("embedding")
        .crossJoin(cent)
        // rounded to 6dp BEFORE the argmax/probe ranking — the same
        // total-order discipline as kmeansAssign: cell assignment must
        // not flip on engine-level float summation differences
        .withColumn("__sim",
          round(dot(col(vecAs), col("ev")) / (col(normAs) * col("en")), 6))
        .drop("ev", "en")
    // corpus side: one row per vector with its argmax cell (ties → larger
    // cell id, a total order so the index is deterministic)
    val cells = cellScored(corpus, "neighbor_id", "cv", "cn")
      .groupBy(col("neighbor_id"))
      .agg(max_by(struct(col("cell_id"), col("cv"), col("cn")),
        struct(col("__sim"), col("cell_id"))).as("__c"))
      .select(col("neighbor_id"), col("__c.cell_id").as("cell_id"),
        col("__c.cv").as("cv"), col("__c.cn").as("cn"))
    // query side: nprobe closest cells each
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__sim").desc, col("cell_id"))
    val probes = cellScored(queries, "query_id", "qv", "qn")
      .withColumn("__r", row_number().over(wProbe))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell_id"))
    val scored = cells.join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Graph-based ANN: fixed-round beam search over a bounded-degree
    * neighbor graph — the navigable-small-world family (Malkov &
    * Yashunin's NSW layer, flattened), the one ANN family LSH/IVF/PQ
    * don't cover. Three phases, all deterministic so an unrolled SQL
    * oracle replays the whole index:
    *
    *   1. GRAPH BUILD: each corpus vector joins its top-`cellsPerNode`
    *      COARSE cells over the broadcast `centroids` (6dp cosine,
    *      ties → larger cell id — the [[ivfTopK]] discipline); each
    *      coarse membership then re-assigns to its top-2 FINE cells
    *      around hash-sampled member pivots (expected 1 per 16
    *      members), and directed edges go to the `m` nearest
    *      shared-FINE-cell neighbors (6dp-rounded cosine desc, id
    *      asc). Multi-cell membership at BOTH levels is the
    *      navigability trick: boundary nodes bridge neighboring
    *      coarse cells and neighboring fine cells, so the beam can
    *      cross Voronoi borders. The fine split keeps per-cell
    *      population CONSTANT at any corpus size, so the pair join is
    *      scan-linear — with a fixed nlist alone it is quadratic in
    *      corpus/nlist (the round-7 100× step measured exactly that:
    *      ~1.25e9 candidate pairs at 3,125 members/cell filled the
    *      spill disk).
    *   2. ENTRY: every query starts from the centroid ids themselves
    *      (they are corpus members — the modulus-sample convention),
    *      i.e. ≤|centroids| seed candidates per query.
    *   3. SEARCH: `rounds` beam iterations. Each round expands the
    *      beam through the edge list (equi-join on the beam's
    *      candidate ids), unions expansion with the current beam,
    *      dedups, rescores, and keeps the `beamWidth` best per query
    *      (6dp cosine desc, id asc). Per-round candidate volume is
    *      |Q|·beamWidth·(m+1) — independent of corpus size; the
    *      candidate side is broadcast into the node-vector lookup.
    *
    * Scale shape at 100 TB: the graph build is the IVF cell join
    * (embarrassingly cell-parallel); the edge list is |corpus|·m rows,
    * checkpointed once and equi-joined per round; search cost is
    * queries×beam×degree per round with every non-corpus side
    * broadcast. Recall vs [[bruteForceTopK]] rises with beamWidth and
    * rounds (SimilaritySpec measures it; the registry carries a recall
    * row). Output schema matches bruteForceTopK:
    * (query_id, neighbor_id, cosine, rank). */
  def nswTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroids: DataFrame, m: Int = 6, beamWidth: Int = 8,
              rounds: Int = 3, cellsPerNode: Int = 2): DataFrame = {
    require(m > 0 && beamWidth > 0 && rounds >= 1 && rounds <= 8,
      s"nsw wants m>0, beam>0, 1<=rounds<=8; got m=$m beam=$beamWidth rounds=$rounds")
    require(cellsPerNode >= 1 && cellsPerNode <= 4,
      s"cellsPerNode bounds the edge-join fanout; 1..4, got $cellsPerNode")
    val (cent, nodes, q) = graphInputs(queries, corpus, centroids)
    val edges = nswEdgeList(nodes, cent, m, cellsPerNode)
    rankBeam(nswBeam(q, nodes, edges,
      q.select(col("query_id"))
        .crossJoin(cent.select(col("cell_id").as("cand"))),
      beamWidth, rounds), k)
  }

  /** The inputs both graph searches share: the broadcast centroid frame
    * (cell_id, ev, en), the corpus nodes (nid, cv, cn) and the broadcast
    * query frame (query_id, qv, qn). The nodes feed the cell scorer,
    * both edge-join vector lookups and the per-round candidate rescore,
    * so they are checkpointed once. */
  private def graphInputs(queries: DataFrame, corpus: DataFrame,
                          centroids: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cent = broadcast(
      withVecNorm(centroids.select(col("vec_id").as("cell_id"), col("embedding")),
        col("embedding"), "ev", "en").drop("embedding"))
    val nodes = withVecNorm(
        corpus.select(col("vec_id").as("nid"), col("embedding")),
        col("embedding"), "cv", "cn").drop("embedding")
      .localCheckpoint(true)
    val q = broadcast(withVecNorm(
      queries.select(col("vec_id").as("query_id"), col("embedding")),
      col("embedding"), "qv", "qn").drop("embedding"))
    (cent, nodes, q)
  }

  /** Final beam (query_id, cand, cosine) → top-k rows in the
    * [[bruteForceTopK]] schema (query_id, neighbor_id, cosine, rank). */
  private def rankBeam(beam: DataFrame, k: Int): DataFrame = {
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand"))
    beam.withColumn("rank", row_number().over(wBeam).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Bounded-degree NSW edge list over `nodes` (nid, cv, cn) given the
    * broadcast centroid frame (cell_id, ev, en) — the graph-build
    * phase of [[nswTopK]]: one unsalted layer of
    * [[nswEdgeListLayered]]. */
  private def nswEdgeList(nodes: DataFrame, cent: DataFrame, m: Int,
                          cellsPerNode: Int): DataFrame =
    nswEdgeListLayered(nodes.withColumn("layer", lit(0L)), cent, m,
      cellsPerNode, saltCol = lit(0L))
      .drop("layer")

  /** [[nswEdgeList]] over a LAYER-TAGGED node frame (nid, cv, cn,
    * layer): every stage of the cell pipeline — coarse assignment,
    * pivot sampling, fine re-assignment, shared-cell pairing, top-m
    * trim — carries `layer` in its partition/join keys, so an HNSW
    * build computes BOTH layer graphs in the same jobs (one cell
    * scan, one pivot checkpoint, one edge checkpoint) instead of
    * running the pipeline twice. Row-for-row identical to per-layer
    * [[nswEdgeList]] calls: the layer key only separates partitions
    * that separate runs would have isolated anyway. `saltCol` is the
    * fine-pivot hash salt as an expression over `layer` (the upper
    * layer needs a decorrelated stream — see [[hnswTopK]]). */
  private def nswEdgeListLayered(nodes: DataFrame, cent: DataFrame, m: Int,
                                 cellsPerNode: Int,
                                 saltCol: Column): DataFrame = {
    // top-cellsPerNode COARSE cells per node (6dp cosine desc, larger
    // cell id on ties — the ivfTopK discipline). p>1 makes nodes near
    // a Voronoi boundary members of BOTH neighboring cells, which is
    // what puts cross-cell bridge edges into the graph — without them
    // the beam can only descend within the entry cell and recall
    // plateaus.
    //
    // Computed as a NARROW per-node projection over the centroid set
    // carried as one broadcast array column — score all |cent| cells,
    // sort, slice — instead of the corpus×|cent| row explosion feeding
    // a sort-window exchange (at sf0.1 that window shuffled ~8M rows
    // to keep 2 per node). Legal precisely because the centroid count
    // is BOUNDED by contract (nlist, the ivf convention) — the same
    // reason `cent` broadcasts at all; the fine-pivot stage below,
    // whose pivot count grows with the corpus, keeps the join form.
    // Selection identical: reverse(array_sort) orders the (sim,
    // cell_id) structs (desc, desc), the old window's exact order.
    val centArr = broadcast(cent.agg(collect_list(
      struct(col("cell_id"), col("ev"), col("en"))).as("__cents")))
    val coarseCells = nodes
      .crossJoin(centArr)
      .select(col("layer"), col("nid"),
        slice(reverse(array_sort(transform(col("__cents"), c =>
          struct(
            round(dot(col("cv"), c.getField("ev"))
              / (col("cn") * c.getField("en")), 6).as("sim"),
            c.getField("cell_id").as("cell_id"))))),
          1, cellsPerNode).as("__top"))
      .select(col("layer"), col("nid"), explode(col("__top")).as("t"))
      .select(col("layer"), col("nid"), col("t.cell_id").as("cell_id"))
    // HIERARCHICAL FINE SPLIT (round-7 scale fix): with nlist fixed,
    // coarse-cell population grows linearly with the corpus and the
    // shared-cell pair join grows QUADRATICALLY — the 100x step filled
    // the disk with ~1.25e9 candidate pairs (3,125 members/cell).
    // Each coarse cell is therefore split around hash-sampled member
    // PIVOTS (expected 1 per fineTarget members — the modulus-sample
    // convention, engine-portable via the md5-56 kernel): every
    // membership re-assigns to its top-2 fine pivots within that
    // coarse cell, so per-fine-cell population is ~2·cellsPerNode·
    // fineTarget at ANY corpus size and the pair join is scan-LINEAR.
    // Bridge structure survives on both axes: cross-COARSE bridges via
    // cellsPerNode>1 (unchanged), cross-FINE bridges within a coarse
    // cell via the top-2 fine membership. Coarse cells too small to
    // yield a pivot keep the coarse id as their single fine cell —
    // i.e. at small SF the behavior degrades gracefully toward the
    // flat form.
    val fineTarget = 16
    val pivotKey = col("nid") + saltCol
    val pivots = coarseCells
      .filter(graft.ops.Sampling.hashValue(pivotKey) % fineTarget === 0)
      .join(nodes, Seq("layer", "nid"))
      .select(col("layer"), col("cell_id").as("coarse_id"),
        col("nid").as("fine_id"), col("cv").as("fv"), col("cn").as("fn"))
      .localCheckpoint(true) // consumed by assignment + orphan anti-join
    val wFine = org.apache.spark.sql.expressions.Window
      .partitionBy(col("layer"), col("nid"), col("coarse_id"))
      .orderBy(col("__sim").desc, col("fine_id").desc)
    val fineAssign = coarseCells
      .select(col("layer"), col("nid"), col("cell_id").as("coarse_id"))
      .join(nodes, Seq("layer", "nid"))
      .join(pivots, Seq("layer", "coarse_id"))
      .withColumn("__sim",
        round(dot(col("cv"), col("fv")) / (col("cn") * col("fn")), 6))
      .withColumn("__r", row_number().over(wFine))
      .filter(col("__r") <= 2)
      .select(col("layer"), col("nid"), col("fine_id").as("cell_id"))
    val orphan = coarseCells
      .select(col("layer"), col("nid"), col("cell_id").as("coarse_id"))
      .join(pivots.select(col("layer"), col("coarse_id")).distinct(),
        Seq("layer", "coarse_id"), "left_anti")
      .select(col("layer"), col("nid"), col("coarse_id").as("cell_id"))
    val nodeCells = fineAssign.unionByName(orphan).distinct()
    // candidate pairs: distinct shared-cell id pairs FIRST (a pair
    // sharing two cells must score once), vectors attached after by
    // two equi-joins against the checkpointed nodes — edge-linear.
    // fine cell ids are NODE ids, which both layers share -> layer
    // must key the pair join (and every window above)
    val pairs = nodeCells.select(col("layer"), col("nid").as("src"), col("cell_id"))
      .join(nodeCells.select(col("layer"), col("nid").as("dst"), col("cell_id")),
        Seq("layer", "cell_id"))
      .filter(col("src") =!= col("dst"))
      .select(col("layer"), col("src"), col("dst")).distinct()
    val wEdge = org.apache.spark.sql.expressions.Window
      .partitionBy(col("layer"), col("src")).orderBy(col("__ec").desc, col("dst"))
    pairs
      .join(nodes.select(col("layer"), col("nid").as("src"),
        col("cv").as("av"), col("cn").as("an")), Seq("layer", "src"))
      .join(nodes.select(col("layer"), col("nid").as("dst"),
        col("cv").as("bv"), col("cn").as("bn")), Seq("layer", "dst"))
      .withColumn("__ec",
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")), 6))
      .withColumn("__r", row_number().over(wEdge))
      .filter(col("__r") <= m)
      .select(col("layer"), col("src"), col("dst"))
      .localCheckpoint(true) // consumed once per search round
  }

  /** Fixed-round beam search over a prebuilt NSW `edges` list — the
    * search phase of [[nswTopK]]/[[hnswTopK]], factored so the
    * hierarchical variant can run one beam per layer. `q` is the
    * broadcast query frame (query_id, qv, qn); `seed` the initial
    * (query_id, cand) candidates. Returns the final beam
    * (query_id, cand, cosine), beamWidth rows per query.
    *
    * `preScored` seeds the beam with rows whose cosines are ALREADY
    * known (the HNSW upper-layer beam feeding layer 0) — they join the
    * initial beam without a rescore. Each round rescores the whole
    * frontier (beam ∪ expansion); the beam is checkpointed every 2nd
    * round, so an un-checkpointed round's subtree is recomputed by its
    * two consumers, bounded to depth 2 over broadcast joins of the
    * checkpointed corpus — at these sizes the per-job scheduling floor
    * costs more than that recompute.
    *
    * AQE off for the loop ([[Confs.withoutAqe]]): the beam loop's
    * shape is fully known at plan time (every join side an explicit
    * broadcast of a queries×beam×degree frame, every aggregate tiny),
    * so statically planned, each checkpoint action is ONE job instead
    * of a job per AQE query stage. */
  private def nswBeam(q: DataFrame, nodes: DataFrame, edges: DataFrame,
                      seed: DataFrame, beamWidth: Int, rounds: Int,
                      preScored: Option[DataFrame] = None): DataFrame =
    Confs.withoutAqe(nodes.sparkSession) {
      nswBeamLoop(q, nodes, edges, seed, beamWidth, rounds, preScored)
    }

  private def nswBeamLoop(q: DataFrame, nodes: DataFrame, edges: DataFrame,
                          seed: DataFrame, beamWidth: Int, rounds: Int,
                          preScored: Option[DataFrame]): DataFrame = {
    // candidate lists are tiny (queries x beam x degree) -> broadcast
    // into the corpus-sized nodes frame
    def score(cands: DataFrame): DataFrame =
      nodes.join(broadcast(cands), col("nid") === col("cand"))
        .join(q, Seq("query_id"))
        .filter(col("cand") =!= col("query_id"))
        .select(col("query_id"), col("cand"),
          round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6)
            .as("cosine"))
    // top-B per query as ONE map-side-combinable aggregate instead of
    // a window sort: collect_set(struct(cosine, -cand)) -> sort desc
    // (cosine desc, cand asc via the exact long negation) -> slice B.
    // The set ABSORBS duplicate candidate rows — a candidate reached
    // through several edges scores to the same (cosine, cand) struct —
    // so callers skip the per-round DISTINCT shuffle entirely: each
    // round costs one broadcast-join pass + one aggregate exchange.
    // Selection identical to ROW_NUMBER() OVER (ORDER BY cosine DESC,
    // cand) <= B; per-query state is bounded by beam x degree structs.
    def topB(scored: DataFrame): DataFrame =
      scored.groupBy(col("query_id"))
        .agg(slice(sort_array(collect_set(
            struct(col("cosine"), (-col("cand")).as("nc"))), asc = false),
          1, beamWidth).as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), (-col("t.nc")).as("cand"),
          col("t.cosine").as("cosine"))
    val seed0 = seed.select(col("query_id"), col("cand"))
    val fresh0 = preScored match {
      case Some(ps) => seed0.join(
        broadcast(ps.select(col("query_id"), col("cand"))),
        Seq("query_id", "cand"), "left_anti")
      case None => seed0
    }
    var beam = topB(preScored match {
      case Some(ps) => ps.unionByName(score(fresh0))
      case None => score(fresh0)
    }).localCheckpoint(true) // consumed twice per round (union + expand)
    for (r <- 1 to rounds) {
      // beam is queries×beam rows — explicit broadcast into the
      // checkpointed edge list (one map-side pass over edges; without
      // the hint the statically-planned join would sort-merge, and
      // with AQE the runtime conversion costs a stage-job per round)
      val expanded = broadcast(beam).join(edges, col("cand") === col("src"))
        .select(col("query_id"), col("dst").as("cand"))
      // rescore the whole frontier with NO distinct — topB's set
      // aggregate absorbs duplicate candidates, so the round is one
      // broadcast-join pass + one aggregate exchange
      val cands = beam.select(col("query_id"), col("cand"))
        .union(expanded)
      beam = topB(score(cands))
      // the final round's beam has ONE consumer (the caller's top-k
      // window) — never worth a checkpoint
      if (r % 2 == 0 && r < rounds) beam = beam.localCheckpoint(true)
    }
    beam
  }

  /** Hierarchical NSW (the HNSW shape, Malkov & Yashunin 2016): one
    * SPARSE UPPER LAYER of modulus-sampled nodes (hash(nid) %
    * `layerMod` = 0 — the engine-portable md5-56 sample, expected
    * corpus/layerMod members) with its own bounded-degree graph, plus
    * the full layer-0 graph. Search descends: one two-hop pass over
    * the upper layer finds a good NEIGHBORHOOD from coarse entry
    * points, then `lowerRounds` layer-0 beam rounds refine from there
    * — better entries than [[nswTopK]]'s fixed centroid seeds at the
    * same beam width.
    *
    * Entry points are the classic "top layer" analog, a sparser
    * modulus sample of the upper sample (hash % layerMod·entryFactor
    * = 0), unioned with the centroid ids so a tiny corpus whose entry
    * sample comes up empty degrades gracefully to NSW seeding rather
    * than an empty result. The upper graph's fine pivots draw from a
    * SALTED hash stream (hash(nid+7919)) — the unsalted stream would
    * make every upper member a pivot, since upper membership itself
    * zeroes hash % layerMod.
    *
    * Every phase is deterministic (modulus samples, 6dp-rounded
    * cosines, id tiebreaks, fixed rounds), so [[hnswTopKSql]] replays
    * the whole two-layer index in DuckDB. Scale shape: both graph
    * builds are the scan-linear cell pipeline (the upper one over
    * corpus/layerMod rows); search is queries×beam×degree per round
    * with every non-corpus side broadcast — the upper pass touches
    * the small layer first, exactly the HNSW cost argument. */
  def hnswTopK(queries: DataFrame, corpus: DataFrame, k: Int,
               centroids: DataFrame, m: Int = 6, beamWidth: Int = 8,
               lowerRounds: Int = 3, cellsPerNode: Int = 2,
               layerMod: Int = 16, entryFactor: Int = 8): DataFrame = {
    require(m > 0 && beamWidth > 0 && lowerRounds >= 1 && lowerRounds <= 6,
      s"hnsw wants m>0, beam>0, 1<=lowerRounds<=6; " +
        s"got m=$m beam=$beamWidth low=$lowerRounds")
    require(cellsPerNode >= 1 && cellsPerNode <= 4,
      s"cellsPerNode bounds the edge-join fanout; 1..4, got $cellsPerNode")
    require(layerMod >= 2 && entryFactor >= 2,
      s"layerMod/entryFactor must thin each layer; got $layerMod/$entryFactor")
    val (cent, nodes, q) = graphInputs(queries, corpus, centroids)
    // cheap filter over the checkpointed nodes cache — no checkpoint
    // of its own (its consumers re-scan the cache, not the corpus)
    val upperNodes = nodes
      .filter(graft.ops.Sampling.hashValue(col("nid")) % layerMod === 0)
    // BOTH layer graphs in one tagged build: one cell scan, one pivot
    // checkpoint, one edge checkpoint instead of two of each — the
    // upper build otherwise pays the full pipeline's job floor for
    // corpus/layerMod rows
    val edgesAll = nswEdgeListLayered(
      nodes.withColumn("layer", lit(0L))
        .unionByName(upperNodes.withColumn("layer", lit(1L))),
      cent, m, cellsPerNode,
      saltCol = when(col("layer") === 1L, lit(7919L)).otherwise(lit(0L)))
    val upperEdges = edgesAll.filter(col("layer") === 1L).drop("layer")
    val lowerEdges = edgesAll.filter(col("layer") === 0L).drop("layer")
    val entries = nodes
      .filter(graft.ops.Sampling.hashValue(col("nid"))
        % (layerMod.toLong * entryFactor) === 0)
      .select(col("nid").as("cand"))
      .unionByName(cent.select(col("cell_id").as("cand")))
      .distinct()
    val seed0 = q.select(col("query_id")).crossJoin(broadcast(entries))
    // The upper descent is ONE SHOT: the whole upper layer is
    // topB(score(entries ∪ N≤2(entries))) — the 1∪2-hop neighborhood
    // of every entry scored in a single combinable aggregate. That is
    // the exploration radius of a two-round beam (2 hops from the
    // entry set) over a candidate SUPERSET of what the two-round form
    // reaches (it expanded only the intermediate top-B trim), so beam
    // quality is ≥ at equal width, without the per-round scheduling
    // floor (intermediate beam checkpoint + per-round broadcast
    // collects, ~8 jobs/round). Candidate volume is bounded:
    // |entries|·m² rows on the corpus/layerMod upper sample.
    // Duplicate candidates are NOT pre-deduped: topB's collect_set
    // absorbs them (the beam-loop convention), saving the distinct's
    // shuffle. [[hnswTopKSql]] replays the identical one-shot form.
    // Self-join of a shared-lineage frame: rename BOTH sides first
    // (DataFrame-object resolution is ambiguous under self-joins).
    val hop2 = upperEdges
      .select(col("src").as("a_src"), col("dst").as("a_mid"))
      .join(upperEdges
          .select(col("src").as("b_mid"), col("dst").as("b_dst")),
        col("a_mid") === col("b_mid"))
      .select(col("a_src").as("src"), col("b_dst").as("dst"))
    val reach = upperEdges.select(col("src"), col("dst"))
      .unionByName(hop2)
      .filter(col("src") =!= col("dst"))
    val upperSeed = seed0.unionByName(
      seed0.join(reach, col("cand") === reach("src"))
        .select(col("query_id"), reach("dst").as("cand")))
    val upperBeam = nswBeam(q, nodes, upperEdges, upperSeed, beamWidth, 0)
      .localCheckpoint(true) // multi-consumer: preScored union + anti-join
    // layer-0 seeds = the upper beam's refined neighborhood UNION the
    // centroid ids: the descent keeps the hierarchy's better entries
    // while never seeding WORSE than the flat NSW search (whose seed
    // set this strictly contains). The upper beam's cosines are
    // GLOBAL (same scoring expression, same corpus vectors), so they
    // carry into layer 0 pre-scored — the descent rescores only the
    // centroid seeds it hasn't already seen.
    val lowerSeed = q.select(col("query_id"))
      .crossJoin(cent.select(col("cell_id").as("cand")))
    rankBeam(nswBeam(q, nodes, lowerEdges, lowerSeed,
      beamWidth, lowerRounds,
      preScored = Some(upperBeam.select(col("query_id"), col("cand"), col("cosine")))), k)
  }

  /** ANSI-SQL replay of [[nswTopK]] over the `embeddings` table —
    * rebuilds cells, the bounded-degree edge list, and the unrolled
    * beam rounds independently in DuckDB (every step is deterministic:
    * 6dp rounding, id tiebreaks, fixed rounds — the ivf/lsh oracle
    * convention). `queryPred` selects the query batch;
    * `centroidPred`+`nlist` mirror the modulus-sample centroid
    * convention (limit BEFORE the zero-norm drop, as ivfTopK). */
  def nswTopKSql(queryPred: String, k: Int, m: Int = 6, beamWidth: Int = 8,
                 rounds: Int = 3, cellsPerNode: Int = 2,
                 centroidPred: String = "vec_id % 97 = 0",
                 nlist: Int = 128): String =
    s"""WITH ${graphPreludeSql(queryPred, centroidPred, nlist)},
    ${nswEdgesSqlCtes("", "cells", m, cellsPerNode, "cc.nid")},
    cand0 AS (
      SELECT query_id, cell_id AS cand FROM q CROSS JOIN cent),
    ${beamCteSql("", 0, "cand0", beamWidth)},
    ${beamRoundsSql("", rounds, "edges", beamWidth)}
    ${rankBeamSql(s"beam$rounds", k)}"""

  /** The CTE prelude both graph-search replays open with: double-cast
    * vectors `v`, nonzero-norm rows `n`, the capped centroid set `cent`
    * (cell_id, ev, en), the node table `cells` (nid, cv, cn) and the
    * query batch `q` (query_id, qv, qn) — [[graphInputs]] in SQL. */
  private def graphPreludeSql(queryPred: String, centroidPred: String,
                              nlist: Int): String =
    s"""v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    n AS (
      SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm
      FROM v WHERE sqrt(list_inner_product(v, v)) > 0),
    cent AS (
      -- centroid cap BEFORE the zero-norm drop (the ivfTopK convention)
      SELECT cell_id, ev, en FROM (
        SELECT vec_id AS cell_id, v AS ev, sqrt(list_inner_product(v, v)) AS en
        FROM v WHERE $centroidPred ORDER BY vec_id LIMIT $nlist)
      WHERE en > 0),
    cells AS (
      SELECT vec_id AS nid, v AS cv, nrm AS cn FROM n),
    q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qn
      FROM n WHERE $queryPred)"""

  /** The NSW edge-build CTE chain with a name prefix — the SQL mirror
    * of [[nswEdgeListLayered]], emitted once per graph layer.
    * `memberSrc` is a CTE with (nid, cv, cn); `pivotKeySql` the
    * (possibly salted) pivot-sample key expression over alias cc.
    * Coarse cells: top-`cellsPerNode` per node, ties → larger cell id
    * (multi-cell membership puts cross-cell bridge edges in the graph).
    * Fine split: hash-sampled member pivots (expected 1 per 16), each
    * coarse membership re-assigned to its top-2 pivots; a coarse cell
    * too small to yield a pivot keeps its id as its single fine cell.
    * Edges: the `m` nearest distinct shared-cell neighbors (6dp cosine
    * desc, id asc). */
  private def nswEdgesSqlCtes(p: String, memberSrc: String, m: Int,
                              cellsPerNode: Int,
                              pivotKeySql: String): String =
    s"""${p}coarse AS (
      SELECT nid, cell_id FROM (
        SELECT a.nid, ct.cell_id,
          ROW_NUMBER() OVER (PARTITION BY a.nid
            ORDER BY ROUND(list_inner_product(a.cv, ct.ev) / (a.cn * ct.en), 6)
              DESC, ct.cell_id DESC) AS rn
        FROM $memberSrc a CROSS JOIN cent ct) WHERE rn <= $cellsPerNode),
    ${p}pivots AS (
      SELECT cc.cell_id AS coarse_id, cc.nid AS fine_id,
        c.cv AS fv, c.cn AS fn
      FROM ${p}coarse cc JOIN cells c ON cc.nid = c.nid
      WHERE ${graft.ops.Sampling.hashValueSql(pivotKeySql)} % 16 = 0),
    ${p}fine AS (
      SELECT nid, fine_id AS cell_id FROM (
        SELECT cc.nid, pv.fine_id,
          ROW_NUMBER() OVER (PARTITION BY cc.nid, cc.cell_id
            ORDER BY ROUND(list_inner_product(c.cv, pv.fv) / (c.cn * pv.fn), 6)
              DESC, pv.fine_id DESC) AS rn
        FROM ${p}coarse cc
        JOIN cells c ON cc.nid = c.nid
        JOIN ${p}pivots pv ON cc.cell_id = pv.coarse_id) WHERE rn <= 2),
    ${p}orphan AS (
      SELECT cc.nid, cc.cell_id
      FROM ${p}coarse cc
      WHERE NOT EXISTS (SELECT 1 FROM ${p}pivots pv
        WHERE pv.coarse_id = cc.cell_id)),
    ${p}ncells AS (
      SELECT DISTINCT nid, cell_id FROM (
        SELECT nid, cell_id FROM ${p}fine
        UNION ALL SELECT nid, cell_id FROM ${p}orphan)),
    ${p}pairs AS (
      SELECT DISTINCT a.nid AS src, b.nid AS dst
      FROM ${p}ncells a JOIN ${p}ncells b USING (cell_id)
      WHERE a.nid <> b.nid),
    ${p}edges AS (
      SELECT src, dst FROM (
        SELECT pr.src, pr.dst,
          ROW_NUMBER() OVER (PARTITION BY pr.src
            ORDER BY ROUND(list_inner_product(a.cv, b.cv) / (a.cn * b.cn), 6)
              DESC, pr.dst) AS rn
        FROM ${p}pairs pr
        JOIN cells a ON pr.src = a.nid
        JOIN cells b ON pr.dst = b.nid) WHERE rn <= $m)"""

  /** Beam CTE number `i` under prefix `p`: the `beamWidth` best (6dp
    * cosine desc, id asc) non-self candidates of CTE `candSrc`
    * (query_id, cand) per query. */
  private def beamCteSql(p: String, i: Int, candSrc: String,
                         beamWidth: Int): String =
    s"""${p}beam$i AS (
      SELECT query_id, cand, cosine FROM (
        SELECT c.query_id, c.cand,
          ROUND(list_inner_product(q.qv, nd.cv) / (q.qn * nd.cn), 6) AS cosine,
          ROW_NUMBER() OVER (PARTITION BY c.query_id
            ORDER BY ROUND(list_inner_product(q.qv, nd.cv) / (q.qn * nd.cn), 6)
              DESC, c.cand) AS rn
        FROM $candSrc c
        JOIN cells nd ON c.cand = nd.nid
        JOIN q ON c.query_id = q.query_id
        WHERE c.cand <> c.query_id) WHERE rn <= $beamWidth)"""

  /** `rounds` unrolled beam rounds from beam CTE 0: each expands the
    * previous beam through `edgesCte`, unions it with the beam and
    * keeps the best `beamWidth` — the [[nswBeam]] loop in SQL. */
  private def beamRoundsSql(p: String, rounds: Int, edgesCte: String,
                            beamWidth: Int): String =
    (1 to rounds).map { i =>
      s"""${p}cand$i AS (
      SELECT DISTINCT query_id, cand FROM (
        SELECT query_id, cand FROM ${p}beam${i - 1}
        UNION ALL
        SELECT b.query_id, e.dst AS cand
        FROM ${p}beam${i - 1} b JOIN $edgesCte e ON b.cand = e.src)),
    ${beamCteSql(p, i, s"${p}cand$i", beamWidth)}"""
    }.mkString(",\n    ")

  /** Final SELECT ranking beam CTE `beam` to top-k — [[rankBeam]] in
    * SQL. */
  private def rankBeamSql(beam: String, k: Int): String =
    s"""SELECT query_id, cand AS neighbor_id, cosine,
      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, cand) AS INTEGER) AS rank
    FROM $beam
    QUALIFY rank <= $k"""

  /** ANSI-SQL replay of [[hnswTopK]] — both layer graphs, the entry
    * sample, the one-shot two-hop upper pass and the unrolled layer-0
    * beam rounds, rebuilt independently in DuckDB (same 6dp rounding,
    * id tiebreaks, modulus samples). */
  def hnswTopKSql(queryPred: String, k: Int, m: Int = 6,
                  beamWidth: Int = 8, lowerRounds: Int = 3,
                  cellsPerNode: Int = 2, layerMod: Int = 16,
                  entryFactor: Int = 8,
                  centroidPred: String = "vec_id % 97 = 0",
                  nlist: Int = 128): String =
    s"""WITH ${graphPreludeSql(queryPred, centroidPred, nlist)},
    u_members AS (
      -- sparse upper layer: md5-56 modulus sample of the corpus
      SELECT nid, cv, cn FROM cells
      WHERE ${graft.ops.Sampling.hashValueSql("nid")} % $layerMod = 0),
    ${nswEdgesSqlCtes("u_", "u_members", m, cellsPerNode,
      "cc.nid + 7919")},
    ${nswEdgesSqlCtes("", "cells", m, cellsPerNode, "cc.nid")},
    entries AS (
      -- top-layer entry points: a sparser modulus sample of the upper
      -- sample, unioned with the centroid ids (graceful fallback)
      SELECT DISTINCT cand FROM (
        SELECT nid AS cand FROM cells
        WHERE ${graft.ops.Sampling.hashValueSql("nid")}
          % ${layerMod.toLong * entryFactor} = 0
        UNION ALL SELECT cell_id AS cand FROM cent)),
    u_cand0 AS (
      SELECT query_id, cand FROM q CROSS JOIN entries),
    u_reach AS (
      -- the one-shot upper pass: the 1-or-2-hop reach of the entry set
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM u_edges
        UNION ALL
        SELECT e1.src AS src, e2.dst AS dst
        FROM u_edges e1 JOIN u_edges e2 ON e1.dst = e2.src)
      WHERE src <> dst),
    u_cand1 AS (
      SELECT DISTINCT query_id, cand FROM (
        SELECT query_id, cand FROM u_cand0
        UNION ALL
        SELECT c.query_id, e.dst AS cand
        FROM u_cand0 c JOIN u_reach e ON c.cand = e.src)),
    ${beamCteSql("u_", 1, "u_cand1", beamWidth)},
    cand0 AS (
      SELECT DISTINCT query_id, cand FROM (
        SELECT query_id, cand FROM u_beam1
        UNION ALL
        SELECT query_id, cell_id AS cand FROM q CROSS JOIN cent)),
    ${beamCteSql("", 0, "cand0", beamWidth)},
    ${beamRoundsSql("", lowerRounds, "edges", beamWidth)}
    ${rankBeamSql(s"beam$lowerRounds", k)}"""

  /** One Lloyd ASSIGNMENT step: each corpus vector to its nearest
    * centroid by squared L2 (|v|² + |c|² − 2·v·c — three reuses of the
    * dot kernel; norms computed once per row, not once per pair).
    * Distances are rounded to 6dp before the argmin and tie-broken on
    * centroid id, so the assignment is a total order robust to
    * engine-level float summation differences (same discipline as the
    * cosine rankers above). The centroid side is broadcast; the product
    * collapses to one row per vector via a map-side-combinable
    * `min(struct)` hash aggregate — the raw corpus×k product never
    * reaches a shuffle. Output: (id, cid, d2). */
  def kmeansAssign(corpus: DataFrame, centroids: DataFrame,
                   id: String, vec: String,
                   cid: String = "cid", cvec: String = "cvec"): DataFrame = {
    val c = corpus.filter(col(vec).isNotNull)
      .select(col(id), transform(col(vec), x => x.cast("double")).as("__v"))
      .withColumn("__vn", dot(col("__v"), col("__v")))
    val t = broadcast(centroids.filter(col(cvec).isNotNull)
      .select(col(cid).as("__cid"),
        transform(col(cvec), x => x.cast("double")).as("__cv"))
      .withColumn("__cn", dot(col("__cv"), col("__cv"))))
    c.crossJoin(t)
      .withColumn("__d2",
        round(col("__vn") + col("__cn") - lit(2.0) * dot(col("__v"), col("__cv")), 6))
      .groupBy(col(id))
      .agg(min(struct(col("__d2"), col("__cid"))).as("__best"))
      .select(col(id), col("__best.__cid").as(cid), col("__best.__d2").as("d2"))
  }

  /** k-center coreset summary: greedy farthest-point seeds
    * ([[farthestSeeds]] — the 2-approximation of the k-center
    * objective) plus the assignment of every vector to its nearest
    * seed, reduced to per-seed (membership count, coverage radius).
    * The standard diversity-sampling primitive for embedding corpora
    * (pick k maximally-spread exemplars; radius = how far the worst
    * member sits). Costs k corpus passes over a localCheckpointed
    * base — intended for small k; every pass is a broadcast-centroid
    * assignment, never a corpus×corpus product. Fully deterministic
    * (lowest-id start, rounded-d2 + id tie order), so an unrolled
    * oracle replays seed picks, assignment, and radii bit-exactly. */
  def kCenterCoreset(corpus: DataFrame, id: String, vec: String,
                     k: Int): DataFrame = {
    require(k >= 2 && k <= 16, s"coreset wants small k (2..16), got $k")
    val base = corpus.filter(col(vec).isNotNull)
      .select(col(id), transform(col(vec), x => x.cast("double")).as("__bv"))
      .localCheckpoint(true) // consumed by k-1 seed passes + the final assign
    val seeds = farthestSeeds(base, id, k)
    kmeansAssign(base, seeds, id, "__bv")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), max(col("d2")).as("radius_d2"))
  }

  /** Deterministic farthest-point seeding (the greedy half of
    * k-means++): start from the lowest id, then repeatedly take the
    * point with the largest distance to its nearest chosen seed.
    * Immune to the all-seeds-in-one-cluster failure of random/hash
    * sampling (which demonstrably collapses Lloyd into a tie-broken
    * local optimum on well-separated clusters). Costs k-1 assignment
    * passes — intended for small k; capped so nobody schedules 10k
    * passes by accident. */
  private def farthestSeeds(base: DataFrame, id: String, k: Int): DataFrame = {
    require(k <= 64, s"farthest-point seeding runs k-1 corpus passes; " +
      s"k=$k is past sensible")
    var seeds = base.orderBy(col(id)).limit(1)
      .select(col(id).as("cid"), col("__bv").as("cvec"))
    for (i <- 1 until k) {
      val far = kmeansAssign(base, seeds, id, "__bv")
        .orderBy(col("d2").desc, col(id)).limit(1) // TakeOrdered, no sort
        .select(col(id))
      seeds = seeds.unionByName(
        far.join(base, id).select(col(id).as("cid"), col("__bv").as("cvec")))
      // each round nests the previous seed plan inside the next
      // assignment pass, so the lineage grows a full corpus-scan level
      // per seed; past a handful of rounds, truncate it — the seed
      // frame is k rows, the checkpoint is effectively free and keeps
      // analysis/codegen time linear in k instead of quadratic
      if (i % 8 == 0) seeds = seeds.localCheckpoint()
    }
    seeds
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions with
    * a HASH-DERIVED ±1 sign matrix (Achlioptas 2003: Rademacher entries
    * preserve pairwise distances with the same JL guarantee as Gaussian
    * ones, and need no RNG state — sign(j,i) is a pure function of
    * (j,i), so both engines and any re-run derive the identical matrix).
    * The matrix is built once from `spark.range(outDim·inDim)`, folded
    * to a SINGLE broadcast row (outDim arrays of inDim signs), and
    * joined in with a bounded-side crossJoin — the projection itself is
    * then one map-side `zip_with`+`aggregate` per (row, output dim):
    * ZERO shuffle over the corpus, the shape that survives 100 TB.
    *
    * Arithmetic is exact-integer: each term is `round(v_i·10⁶)·s_ji` as
    * a long, so the sum is ORDER-FREE and bit-identical in any engine —
    * no float-summation-order hazard in the oracle compare. Output is
    * one row per (id, out_dim) with the projection in micros
    * (`proj_micro`); downstream ANN can consume `proj_micro/1e6` or
    * stay in integer space. Null embeddings are dropped (a projection
    * of nothing is not zero). */
  def randomProject(corpus: DataFrame, inDim: Int, outDim: Int,
                    id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(inDim > 0 && outDim > 0, "inDim and outDim must be positive")
    val spark = corpus.sparkSession
    val signs = spark.range(outDim.toLong * inDim)
      .select((col("id") / inDim).cast("int").as("j"),
        (col("id") % inDim).cast("int").as("i"))
      .withColumn("s",
        when(Sampling.hashValue(
          concat_ws("|", lit("rp"), col("j").cast("string"),
            col("i").cast("string"))) % 2 === 0, 1L)
          .otherwise(-1L))
      .groupBy(col("j"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("s")))),
        e => e.getField("s")).as("row"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("j"), col("row")))),
        e => e.getField("row")).as("__signs"))
    corpus.filter(col(vec).isNotNull)
      .crossJoin(broadcast(signs))
      .select(col(id), posexplode(
        transform(col("__signs"), srow =>
          aggregate(
            zip_with(col(vec), srow,
              (x, sgn) => round(x.cast("double") * 1e6).cast("long") * sgn),
            lit(0L), (acc, t) => acc + t))))
      .select(col(id), col("pos").cast("int").as("out_dim"),
        col("col").as("proj_micro"))
  }

  /** Product-quantization encode + asymmetric-distance (ADC) top-k —
    * the memory-bound ANN serving path: each corpus vector is stored as
    * `m` small codebook indices (here 8 codes of 4 bits = 4 bytes per
    * 64-dim vector, a 64× compression), and a query scans CODES, not
    * floats, summing per-subspace distances out of a tiny per-query
    * lookup table (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 — public paper).
    *
    * Deterministic, oracle-replayable codebook: the `codebookSize`
    * source vectors are a fixed-size hash-rank pick (md5 order →
    * TakeOrderedAndProject, scan-linear — the [[ivfTopK]] nlist
    * discipline), sliced into per-subspace centroids. Codes are argmin squared-L2 per
    * subspace, ties to the smaller code.
    *
    * Scale shape: encoding is one corpus scan against a BROADCAST
    * codebook (m·codebookSize rows) with a combinable per-(vector,
    * subspace) argmin — paid once per corpus, amortized over queries,
    * like any index build. Search touches only the codes frame joined
    * to a broadcast LUT of |queries|·m·codebookSize rows and sums
    * integer micro-distances (order-independent, so the groupBy is
    * exact under any partitioning). Ranking is per-query
    * (WindowGroupLimit), never global.
    *
    * Returns (query_id, neighbor_id, adc_micro, rank ≤ k); adc_micro is
    * the ADC squared-L2 in 1e-6 units. Self-matches excluded. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, codebookSize: Int = 16, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(codebookSize > 0 && k > 0, "codebookSize and k must be positive")
    val sub = dim / m
    val pickKey = Seq(md5(col("vec_id").cast("string")), col("vec_id"))
    // bounded frames below (≤ codebookSize·m rows): the single-partition
    // window ranks only the already-limited pick
    val cents = corpus.filter(col("embedding").isNotNull)
      .orderBy(pickKey: _*).limit(codebookSize)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
      .withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(pickKey: _*)) - 1)
    val centSub = cents.select(col("code"), pqSubspaces(m).as("j"), col("cv"))
      .withColumn("csub", slice(col("cv"), col("j") * sub + 1, lit(sub)))
      .withColumn("cn", dot(col("csub"), col("csub")))
      .select(col("j"), col("code"), col("csub"), col("cn"))
    pqSearch(queries, corpus, k, centSub, m, sub)
  }

  /** One row per subspace index 0..m-1 (a generator column). */
  private def pqSubspaces(m: Int): Column = explode(sequence(lit(0), lit(m - 1)))

  /** The PQ encode + ADC search stage of [[pqTopK]] and
    * [[pqTopKSubspace]] over a codebook frame (j, code, csub, cn) of
    * m·codebookSize rows, broadcast into both the encode join and the
    * LUT join so the corpus never shuffles for either. Encode: per
    * (vector, subspace) argmin of the 6dp-rounded squared L2, ties to
    * the smaller code. Search: a per-query integer micro-distance LUT,
    * combinable ADC sums, per-query ranking on (adc_micro, id). */
  private def pqSearch(queries: DataFrame, corpus: DataFrame, k: Int,
                       centSub: DataFrame, m: Int, sub: Int): DataFrame = {
    def subspaced(df: DataFrame, idAs: String) =
      df.filter(col("embedding").isNotNull)
        .select(col("vec_id").as(idAs),
          transform(col("embedding"), x => x.cast("double")).as("__v"))
        .select(col(idAs), pqSubspaces(m).as("j"), col("__v"))
        .withColumn("vsub", slice(col("__v"), col("j") * sub + 1, lit(sub)))
        .withColumn("vn", dot(col("vsub"), col("vsub")))
        .drop("__v")
    val codes = subspaced(corpus, "neighbor_id")
      .join(broadcast(centSub), Seq("j"))
      .withColumn("d2", round(
        col("vn") + col("cn") - lit(2.0) * dot(col("vsub"), col("csub")), 6))
      .groupBy(col("neighbor_id"), col("j"))
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("neighbor_id"), col("j"), col("b.code").as("code"))
    // per-query LUT: query × subspace × code → micro distance
    val lut = subspaced(queries, "query_id")
      .join(broadcast(centSub), Seq("j"))
      .withColumn("d2m", round(
        (col("vn") + col("cn") - lit(2.0) * dot(col("vsub"), col("csub")))
          * lit(1e6)).cast("long"))
      .select(col("query_id"), col("j"), col("code"), col("d2m"))
    val scored = codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2m")).as("adc_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** [[pqTopK]] with an INDEPENDENT codebook per subspace — the actual
    * PQ posture (Jégou et al. train one quantizer per subspace; a
    * shared pick couples the subspaces and wastes codebook entropy
    * when subspace distributions differ). The deterministic stand-in
    * for per-subspace training is a per-subspace hash-rank pick:
    * subspace j's `codebookSize` source vectors are the corpus top-k
    * under md5(vec_id ":" j) — decorrelated across subspaces by the
    * key, still fully oracle-replayable.
    *
    * Scale shape of the pick: a rank-≤-codebookSize filter over a
    * PARTITION BY j window. Spark turns that into a partial
    * WindowGroupLimit BEFORE the exchange (each map task forwards at
    * most m·codebookSize rows), so the m-partition window input is
    * bounded by partitions·codebookSize, not by the corpus — the
    * grouped generalization of the TakeOrderedAndProject the shared
    * pick uses (asserted in SimilaritySpec). The bounded codebook is
    * localCheckpointed once: it feeds BOTH the encode join and the
    * LUT join, and without the materialization each consumer re-runs
    * the corpus-wide pick (the multi-consumer rule).
    *
    * Encode/search are [[pqTopK]]'s stage ([[pqSearch]]). Returns
    * (query_id, neighbor_id, adc_micro, rank ≤ k); self-matches
    * excluded. */
  def pqTopKSubspace(queries: DataFrame, corpus: DataFrame, k: Int,
                     m: Int = 8, codebookSize: Int = 16,
                     dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(codebookSize > 0 && k > 0, "codebookSize and k must be positive")
    val sub = dim / m
    val pickKey = md5(concat(col("vec_id").cast("string"), lit(":"),
      col("j").cast("string")))
    val wj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("j")).orderBy(pickKey, col("vec_id"))
    val centSub = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id"), pqSubspaces(m).as("j"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
      .withColumn("rk", row_number().over(wj))
      .filter(col("rk") <= codebookSize)
      .withColumn("code", col("rk") - 1)
      .withColumn("csub", slice(col("cv"), col("j") * sub + 1, lit(sub)))
      .withColumn("cn", dot(col("csub"), col("csub")))
      .select(col("j"), col("code"), col("csub"), col("cn"))
      .localCheckpoint(true)
    pqSearch(queries, corpus, k, centSub, m, sub)
  }

  /** IVF-PQ with RESIDUAL encoding — the composition serving stacks
    * actually deploy (FAISS `IVFx,PQy`; Jégou et al. 2011 §V): a
    * coarse inverted-file quantizer routes each vector to its nearest
    * cell, and PQ encodes the RESIDUAL v − c(cell) rather than v
    * itself — residuals concentrate near the origin, so the same
    * codebook budget quantizes them far more finely than raw vectors.
    * Queries probe their `nprobe` nearest cells and scan only those
    * cells' codes with a per-(query, cell) lookup table, because the
    * query's residual differs per probed cell.
    *
    * Deterministic stand-ins, same discipline as [[pqTopK]]/[[ivfTopK]]:
    * coarse centroids are a hash-rank top-`nlist` pick
    * (TakeOrderedAndProject); the residual codebook is an independent
    * per-subspace hash-rank pick over the residual frame (partial
    * WindowGroupLimit before the exchange). Cell assignment and code
    * argmins compare 6-dp-ROUNDED distances with an id/code tiebreak —
    * total orders both engines agree on; ADC sums are micro-quantized
    * longs (order-independent).
    *
    * Scale shape: assignment is one corpus scan against the broadcast
    * nlist-row centroid table reduced by a combinable min-struct argmin
    * (the raw product never reaches a shuffle); the residual frame is
    * materialized ONCE (it feeds the codebook pick and the encode —
    * multi-consumer rule); encode joins a broadcast m·codebookSize
    * codebook; search touches codes × a broadcast
    * |queries|·nprobe·m·codebookSize LUT keyed by (cell, j, code), so
    * only probed cells' codes survive the join. Ranking is per-query
    * WindowGroupLimit. Returns (query_id, neighbor_id, adc_micro,
    * rank ≤ k); self-matches excluded; probed-cell misses simply don't
    * appear (the IVF recall trade, spec-checked). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 8, nprobe: Int = 2, m: Int = 8,
                codebookSize: Int = 16, dim: Int = 64): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nlist > 0 && nprobe > 0 && codebookSize > 0 && k > 0,
      "nlist, nprobe, codebookSize, k must be positive")
    val sub = dim / m
    val W = org.apache.spark.sql.expressions.Window
    val pickKey = Seq(md5(concat(col("vec_id").cast("string"), lit(":ivf"))),
      col("vec_id"))
    // bounded frames: the single-partition window ranks only the
    // already-limited nlist pick
    val cents = corpus.filter(col("embedding").isNotNull)
      .orderBy(pickKey: _*).limit(nlist)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("cv"))
      .withColumn("cell", row_number().over(W.orderBy(pickKey: _*)) - 1)
      .withColumn("cn", dot(col("cv"), col("cv")))
      .select(col("cell"), col("cv"), col("cn"))
      .localCheckpoint(true)
    def prepped(df: DataFrame, idAs: String) =
      df.filter(col("embedding").isNotNull)
        .select(col("vec_id").as(idAs),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("vn", dot(col("v"), col("v")))
    val cvv = prepped(corpus, "vec_id")
    val asg = cvv.crossJoin(broadcast(cents))
      .withColumn("d2", round(
        col("vn") + col("cn") - lit(2.0) * dot(col("v"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"))
    val res = cvv.join(asg, Seq("vec_id")).join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .localCheckpoint(true)
    val js = explode(sequence(lit(0), lit(m - 1)))
    val rPickKey = md5(concat(col("vec_id").cast("string"), lit(":rpq:"),
      col("j").cast("string")))
    val wrj = W.partitionBy(col("j")).orderBy(rPickKey, col("vec_id"))
    val rcb = res.select(col("vec_id"), js.as("j"), col("r"))
      .withColumn("rk", row_number().over(wrj))
      .filter(col("rk") <= codebookSize)
      .withColumn("code", col("rk") - 1)
      .withColumn("crsub", slice(col("r"), col("j") * sub + 1, lit(sub)))
      .withColumn("crn", dot(col("crsub"), col("crsub")))
      .select(col("j"), col("code"), col("crsub"), col("crn"))
      .localCheckpoint(true)
    val codes = res.select(col("vec_id").as("neighbor_id"), col("cell"),
        js.as("j"), col("r"))
      .withColumn("rs", slice(col("r"), col("j") * sub + 1, lit(sub)))
      .withColumn("rn2", dot(col("rs"), col("rs")))
      .drop("r")
      .join(broadcast(rcb), Seq("j"))
      .withColumn("d2", round(
        col("rn2") + col("crn") - lit(2.0) * dot(col("rs"), col("crsub")), 6))
      .groupBy(col("neighbor_id"), col("cell"), col("j"))
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("neighbor_id"), col("cell"), col("j"),
        col("b.code").as("code"))
    val wq = W.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val qprobe = prepped(queries, "query_id")
      .crossJoin(broadcast(cents))
      .withColumn("d2", round(
        col("vn") + col("cn") - lit(2.0) * dot(col("v"), col("cv")), 6))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("qres"))
    val lut = qprobe.select(col("query_id"), col("cell"), js.as("j"),
        col("qres"))
      .withColumn("qs", slice(col("qres"), col("j") * sub + 1, lit(sub)))
      .withColumn("qn2", dot(col("qs"), col("qs")))
      .drop("qres")
      .join(broadcast(rcb), Seq("j"))
      .withColumn("d2m", round(
        (col("qn2") + col("crn") - lit(2.0) * dot(col("qs"), col("crsub")))
          * lit(1e6)).cast("long"))
      .select(col("query_id"), col("cell"), col("j"), col("code"), col("d2m"))
    val scored = codes.join(broadcast(lut), Seq("cell", "j", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d2m")).as("adc_micro"))
    val wr = W.partitionBy(col("query_id"))
      .orderBy(col("adc_micro"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(wr).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Top principal direction of the corpus embedding Gram matrix by
    * power iteration — the PCA step corpus analytics reach for first
    * (dominant variance axis for whitening, drift detection, or as the
    * split axis of a spill tree).
    *
    * Two phases with opposite scale postures:
    *   1. Gram accumulation G = Σ v·vᵀ — the ONLY corpus-sized pass: a
    *      double posexplode into (i, j, xᵢ·xⱼ) cells whose groupBy is
    *      map-side combinable, so each task emits at most dim² rows no
    *      matter how many vectors it scanned; the shuffle moves
    *      O(partitions · dim²), never O(rows). Components are
    *      milli-quantized so cell sums are exact integers
    *      (order-independent under any partitioning; |gm| stays below
    *      2⁵³ out to ~10⁹ unit-scale vectors, far past the long bound
    *      worry at milli precision).
    *   2. Power rounds on dim-sized frames: tᵢ = (G·w)ᵢ as a
    *      [[dot]]-kernel product of the i-th Gram ROW (an ordered
    *      dim-array) against the current direction — the identical
    *      left-to-right fold DuckDB's list_inner_product runs, which
    *      is what makes the iteration replayable. Normalization is by
    *      max|tᵢ| (order-independent, unlike an L2 fold) and the
    *      direction re-enters micro-quantized, so every round is a
    *      fixed point both engines agree on bit-for-bit. All
    *      round-frame work is bounded by dim; nothing corpus-sized
    *      recurs.
    *
    * Starts from the all-ones direction (nonzero overlap with the top
    * eigenvector for a Gram matrix, which is PSD). Returns one row per
    * dimension: (dim, w_micro), the direction after `rounds` rounds in
    * 1e-6 units of its max-norm. */
  def gramTopDirection(corpus: DataFrame, dim: Int, rounds: Int,
                       vec: String = "embedding"): DataFrame = {
    require(dim > 0 && rounds >= 1, "need dim > 0 and rounds >= 1")
    val spark = corpus.sparkSession
    val vm = corpus.filter(col(vec).isNotNull)
      .select(transform(col(vec),
        x => round(x.cast("double") * 1e3).cast("long")).as("vm"))
    val cells = vm.select(col("vm"), posexplode(col("vm")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("vm")).as(Seq("j", "xj")))
    // Gram rows as ordered dim-arrays, scaled back to unit space;
    // multi-consumer across rounds -> materialize once
    val gramRows = cells.groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("gm"))
      .groupBy(col("i"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("gm")))),
        e => e.getField("gm").cast("double") / 1e6).as("grow"))
      .localCheckpoint(true)
    var w = spark.range(dim)
      .select(col("id").cast("int").as("j"), lit(1000000L).as("wm"))
    for (_ <- 1 to rounds) {
      val warr = w.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("j"), col("wm")))),
          e => e.getField("wm").cast("double") / 1e6).as("wd"))
      val t = gramRows.crossJoin(broadcast(warr))
        .select(col("i"), dot(col("grow"), col("wd")).as("ti"))
      val mx = t.agg(max(abs(col("ti"))).as("mx"))
      w = t.crossJoin(broadcast(mx))
        .select(col("i").as("j"),
          round(col("ti") / col("mx") * 1e6).cast("long").as("wm"))
        .localCheckpoint(true)
    }
    w.select(col("j").as("dim"), col("wm").as("w_micro"))
  }
}
