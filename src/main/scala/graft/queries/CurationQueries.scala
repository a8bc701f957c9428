package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Landing, Tables}
import graft.ops.{Dedup, Graph, Multimodal, Quality, Sampling, Scale, Similarity, Sketches, TextOps, Urls}
import graft.streaming.EventStream

/** Round-5 curation/profiling additions: an exactly-replayable
  * Count–Min sketch, a k-anonymity privacy audit, a GPT-2-style regex
  * pre-tokenizer profile, and a bigram-LM perplexity-proxy scorer.
  * Each is a library operator ([[graft.ops]]) plus a DuckDB oracle that
  * recomputes the identical arithmetic.
  */
object CurationQueries {

  /** Count–Min heavy-hitter check over the lineitem supplier stream:
    * build the d×w sketch (one combinable aggregation into 1024 cells),
    * take the 10 exact-heaviest suppliers (TakeOrderedAndProject with a
    * total-order tie-break), and read their sketch estimates back. The
    * CM lower-bound property — estimate never undercounts — is emitted
    * as `overcount = cms_est − exact_cnt` (≥ 0 by construction), and
    * because the hash family is the engine-portable MD5-56 the oracle
    * replays cells AND estimates bit-exactly — no tolerance checks, in
    * contrast to `x_sketch_suite`'s HLL bound booleans. */
  private val x_sketch_countmin = Q(
    "x_sketch_countmin", {
      (s, d) => {
        val items = Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"))
        val cells = Sketches.countMinCells(items, col("suppkey"))
        val exact = items.groupBy(col("suppkey"))
          .agg(count(lit(1)).as("exact_cnt"))
        val probes = exact
          .orderBy(col("exact_cnt").desc, col("suppkey").asc).limit(10)
        Sketches.countMinEstimate(cells, probes, col("suppkey"))
          .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      }
    },
    Some(s"""WITH src AS (SELECT l_suppkey AS suppkey FROM lineitem),
      exact AS (SELECT suppkey, COUNT(*) AS exact_cnt FROM src GROUP BY 1),
      probes AS (SELECT * FROM exact ORDER BY exact_cnt DESC, suppkey LIMIT 10),
      ${Sketches.countMinSql("src", "suppkey", "probes",
        Seq("suppkey", "exact_cnt"), "est")}
      SELECT suppkey, exact_cnt, cms_est,
        cms_est - exact_cnt AS overcount
      FROM est"""))

  /** k-anonymity audit (Quality.kAnonymityViolations) over the customer
    * quasi-identifier tuple (nation, market segment, account-balance
    * band): equivalence classes smaller than k = 5 re-identify their
    * members and are reported with their re-identification risk. The
    * balance band (floor(bal/5000) — one exact double division both
    * engines) is what makes the audit bite: at sf0.01 roughly half the
    * classes violate, so the query proves both directions of the
    * filter. One combinable groupBy — the privacy audit costs the same
    * as any aggregate. */
  private val x_dq_k_anonymity = Q(
    "x_dq_k_anonymity",
    (s, d) => Quality.kAnonymityViolations(
      Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 5000.0d).cast("long").as("bal_band")),
      Seq(col("c_nationkey"), col("c_mktsegment"), col("bal_band")), k = 5),
    Some("""SELECT c_nationkey, c_mktsegment,
      CAST(FLOOR(c_acctbal / 5000.0) AS BIGINT) AS bal_band,
      COUNT(*) AS class_size,
      CAST(ROUND(1000000.0 / COUNT(*)) AS BIGINT) AS risk_micro
    FROM customer
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < 5"""))

  /** l-diversity audit ([[Quality.lDiversityViolations]], l = 3) over
    * the same QI space as the k-anonymity check but against the
    * SENSITIVE attribute (market segment) — the homogeneity-attack
    * screen k-anonymity misses: a big class whose members all share
    * one segment discloses it to anyone who can place a person in the
    * class. Emits the dominant value's share as the attacker's
    * mode-guess success probability. Two combinable aggregates; the
    * oracle replays cells, rollups, and shares. */
  private val x_dq_l_diversity = Q(
    "x_dq_l_diversity",
    (s, d) => Quality.lDiversityViolations(
      Tables.customer(s, d)
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 5000.0d).cast("long").as("bal_band"),
          col("c_mktsegment")),
      Seq("c_nationkey", "bal_band"), col("c_mktsegment"), l = 3),
    Some("""WITH cells AS (
      SELECT c_nationkey, CAST(FLOOR(c_acctbal / 5000.0) AS BIGINT) AS bal_band,
        c_mktsegment AS s, COUNT(*) AS c
      FROM customer GROUP BY 1, 2, 3),
    cls AS (
      SELECT c_nationkey, bal_band,
        CAST(SUM(c) AS BIGINT) AS class_size,
        COUNT(*) AS distinct_sensitive,
        CAST(ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) * 1e6)
          AS BIGINT) AS max_share_micro
      FROM cells GROUP BY 1, 2)
    SELECT c_nationkey, bal_band, class_size, distinct_sensitive,
      max_share_micro
    FROM cls WHERE distinct_sensitive < 3"""))

  /** Tokenizer-cost profile with a real pre-tokenizer: documents get a
    * deterministic punctuation/contraction/number suffix (the corpus is
    * bare lowercase words, same trick as `x_text_redact`), are split by
    * the GPT-2-style regex ([[TextOps.Gpt2ishPattern]], leading-space
    * convention and all), and profiled per language: document count,
    * total pieces, distinct piece TYPES (the vocabulary-size signal a
    * tokenizer-training run budgets by), and mean pieces/doc in integer
    * micro-units. Explode + two combinable aggregates; the distinct is
    * over (lang, piece) — vocabulary-bounded, not corpus-bounded. */
  private val x_text_regex_tokens = Q(
    "x_text_regex_tokens", {
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), col("lang"),
            concat(col("text"), lit(" doc#"), col("doc_id"),
              lit("'s rev "), col("doc_id") % 7,
              lit("."), col("doc_id") % 3, lit("!")).as("txt"))
        val toks = docs.select(col("lang"),
          explode(TextOps.gpt2Tokens(col("txt"))).as("piece"))
        val per = toks.groupBy(col("lang"))
          .agg(count(lit(1)).as("total_pieces"),
            countDistinct(col("piece")).as("n_piece_types"))
        val nd = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        nd.join(per, "lang")
          .select(col("lang"), col("n_docs"), col("total_pieces"),
            col("n_piece_types"),
            round(col("total_pieces") * 1000000.0d / col("n_docs"))
              .cast("long").as("pieces_per_doc_micro"))
      }
    },
    Some(s"""WITH docs AS (
        SELECT doc_id, lang,
          concat(text, ' doc#', doc_id, '''s rev ', doc_id % 7,
                 '.', doc_id % 3, '!') AS txt
        FROM documents WHERE text IS NOT NULL),
      toks AS (SELECT lang, unnest(${TextOps.gpt2TokensSql("txt")}) AS piece
               FROM docs),
      per AS (SELECT lang, COUNT(*) AS total_pieces,
                COUNT(DISTINCT piece) AS n_piece_types
              FROM toks GROUP BY 1),
      nd AS (SELECT lang, COUNT(*) AS n_docs FROM docs GROUP BY 1)
      SELECT lang, n_docs, total_pieces, n_piece_types,
        CAST(ROUND(total_pieces * 1000000.0 / n_docs) AS BIGINT)
          AS pieces_per_doc_micro
      FROM nd JOIN per USING (lang)"""))

  /** Bigram-LM scoring (TextOps.bigramLogProb): mean conditional
    * ln P(w₂|w₁) per document under the corpus's own bigram MLE — the
    * n=2 rung of the CCNet perplexity-filter ladder above the unigram
    * scorer, fixed-pointed to integer micro-nats so both engines sum
    * exactly. */
  private val x_text_bigram_logprob = Q(
    "x_text_bigram_logprob",
    (s, d) => TextOps.bigramLogProb(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text")),
    Some(s"""WITH ${TextOps.bigramLogProbSql(
        "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
      SELECT doc_id, n_bigrams, avg_bigram_logprob FROM bg_scored"""))

  /** Character-entropy profile (TextOps.charEntropy): the
    * compressibility-proxy quality signal in exact micro-nats — explode
    * to chars, two combinable aggregates, no joins or windows. */
  private val x_text_entropy = Q(
    "x_text_entropy",
    (s, d) => TextOps.charEntropy(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text")),
    Some(s"""WITH ${TextOps.charEntropySql(
        "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
      SELECT doc_id, n_chars, n_distinct_chars, entropy_micro
      FROM ent_scored"""))

  /** ANN quality evaluation: recall@5 of the LSH index vs exact brute
    * force, per query — the measurement harness that justifies shipping
    * an approximate index at all (an ANN path without a recall gauge is
    * unfalsifiable). Both arms are the registered operators themselves;
    * the LEFT join + count(matched) per query is exact integer
    * arithmetic, and the oracle recomputes BOTH indexes and the same
    * intersection, so the recall numbers — not just the rankings —
    * hash-match. Scale: the exact arm is the bounded ground-truth mode
    * (10 fixed queries × corpus, broadcast query side); recall
    * evaluation always runs on a sampled query set, never the corpus. */
  private val x_sim_lsh_recall = Q(
    "x_sim_lsh_recall", {
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter(col("vec_id") < 10)
        val exact = Similarity.bruteForceTopK(q, emb, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        val approx = Similarity.lshTopK(q, emb, k = 5)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        exact.join(approx,
            col("query_id") === col("aq") && col("neighbor_id") === col("an"),
            "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_exact"), count(col("an")).as("n_hit"))
          .withColumn("recall_micro",
            round(col("n_hit") * 1000000.0d / col("n_exact")).cast("long"))
      }
    },
    Some(s"""WITH exact AS (
      SELECT query_id, neighbor_id
      FROM (${graft.ops.Similarity.bruteForceTopKSql("vec_id < 10", k = 5)})),
    approx AS (
      SELECT query_id AS aq, neighbor_id AS an
      FROM (${graft.ops.Similarity.lshTopKSql("vec_id < 10", k = 5)}))
    SELECT query_id, COUNT(*) AS n_exact, COUNT(an) AS n_hit,
      CAST(ROUND(COUNT(an) * 1000000.0 / COUNT(*)) AS BIGINT) AS recall_micro
    FROM exact LEFT JOIN approx
      ON query_id = aq AND neighbor_id = an
    GROUP BY 1"""))

  /** Asymmetric containment near-dup (Dedup.containmentPairs): ordered
    * pairs where ≥ 80% of a's 3-shingles appear in b — the
    * quote-inclusion signal the symmetric Jaccard queries miss, blocked
    * by language ONLY (a length bucket would exclude exactly the
    * cross-length pairs containment exists for). The oracle verifies
    * every same-language ordered pair directly, so the prefix-filter
    * candidate generation is proven lossless, not just plausible. */
  private val x_dedup_containment = Q(
    "x_dedup_containment",
    (s, d) => Dedup.containmentPairs(
      Dedup.shingled(TextFixtures.containmentDocs(s, d),
        col("doc_id"), col("text"), keep = Seq(col("lang"))),
      block = col("lang"), minC = 0.8),
    Some(s"""WITH ${TextFixtures.containmentDocsSql("gated")},
    ${Dedup.shinglesSqlCte("gated", "docs", keep = Seq("lang"))}
    ${Dedup.containmentPairsSql("docs", Seq("lang"), 0.8)}"""))

  /** Frame-level audio features (Multimodal.wavFrameFeatures) over the
    * REAL WAV decode path: 160-sample frame energy + zero-crossing
    * rate, integer-exact on lossless PCM, so the oracle replays every
    * frame from the generator formula. Clip → frame explode only;
    * payloads never shuffle. */
  private val x_multimodal_audio_frames = Q(
    "x_multimodal_audio_frames",
    (s, d) => Multimodal.wavFrameFeatures(s,
      Multimodal.wavMediaTable(s, Tables.documents(s, d))).toDF(),
    Some("""WITH m AS (
      SELECT doc_id, CAST(doc_id % 400 + 100 AS INTEGER) AS n FROM documents),
    fr AS (SELECT doc_id, UNNEST(range(0, n // 160)) AS fi FROM m),
    sm AS (
      SELECT doc_id, fi,
        [(doc_id*7919 + (fi*160 + j)*2654435761) % 65536 - 32768
         for j in range(0, 160)] AS ss
      FROM fr)
    SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
      CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT) AS energy,
      CAST(len(list_filter(range(1, len(ss)),
                           j -> ss[j] * ss[j + 1] < 0)) AS BIGINT) AS zcr
    FROM sm"""))

  /** Join-key skew diagnostic — the measurement that decides WHEN
    * `Scale.saltedJoin` is worth its replication cost: the 20 heaviest
    * supplier keys in lineitem with their corpus share and their ratio
    * to the mean key load, in integer micro-units. One combinable
    * count, a 1-row global frame broadcast back (the scalar-subquery
    * pattern), and a TakeOrderedAndProject top-20 with a total-order
    * tie-break — the whole diagnostic costs one aggregate over the
    * fact, which is what makes it runnable as a routine pre-join check
    * at 100 TB. */
  private val x_dq_skew_report = Q(
    "x_dq_skew_report", {
      (s, d) => {
        val counts = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey").as("suppkey"))
          .agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum(col("cnt")).as("n_rows"),
          count(lit(1)).as("n_keys"))
        counts.crossJoin(broadcast(tot))
          .select(col("suppkey"), col("cnt"),
            round(col("cnt") * 1000000.0d / col("n_rows")).cast("long")
              .as("share_micro"),
            round(col("cnt").cast("double") * col("n_keys") / col("n_rows") * 1e6d)
              .cast("long").as("vs_mean_micro"))
          .orderBy(col("cnt").desc, col("suppkey").asc)
          .limit(20)
      }
    },
    Some("""WITH counts AS (
      SELECT l_suppkey AS suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys FROM counts)
    SELECT suppkey, cnt,
      CAST(ROUND(cnt * 1000000.0 / n_rows) AS BIGINT) AS share_micro,
      CAST(ROUND(CAST(cnt AS DOUBLE) * n_keys / n_rows * 1000000.0) AS BIGINT)
        AS vs_mean_micro
    FROM counts CROSS JOIN tot
    ORDER BY cnt DESC, suppkey LIMIT 20"""))

  /** Order-independent table checksum — migration/replication
    * validation at fleet scale (the check a 100 TB copy job runs
    * per partition instead of comparing rows): each row rendered to a
    * canonical string (integer/date/string columns — float rendering is
    * engine-specific and is deliberately excluded from the contract),
    * hashed with the engine-portable md5-56, and SUMMED per group in
    * DECIMAL(38) (order-free, no overflow until ~1e80-row groups), then
    * reduced mod 2⁶² to a comparable BIGINT. Two engines agree on the
    * checksum iff the row MULTISETS agree (up to hash collisions) —
    * regardless of partitioning, ordering, or file layout. */
  private val x_dq_table_checksum = Q(
    "x_dq_table_checksum", {
      (s, d) => {
        val canon = concat_ws("|",
          col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
          col("o_orderstatus"), col("o_orderdate").cast("string"),
          col("o_orderpriority"))
        Quality.tableChecksum(
          Tables.orders(s, d).withColumn("priority", col("o_orderpriority")),
          group = Seq("priority"), canonical = canon)
      }
    },
    Some(s"""SELECT o_orderpriority AS priority,
      COUNT(*) AS n_rows,
      CAST(SUM(${Sampling.hashValueSql(
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
          "o_orderstatus || '|' || CAST(o_orderdate AS VARCHAR) || '|' || o_orderpriority")})
        % 4611686018427387904 AS BIGINT) AS checksum
    FROM orders
    GROUP BY 1"""))

  /** Sketch-based self-join-size estimation (Sketches.countMinJoinSize):
    * the F₂ frequency moment of events.user_id — Σ f(k)² — estimated
    * from the count-min inner product and compared against the exact
    * moment. This is the cost-based-optimizer primitive that prices an
    * m:n join from two d×w summaries without rescanning either side;
    * the estimator never underestimates, surfaced as `overcount ≥ 0`.
    * Exactly replayable: both the exact moment and the sketch estimate
    * are integer arithmetic over the md5-56 cells. */
  private val x_sketch_join_size = Q(
    "x_sketch_join_size", {
      (s, d) => {
        val users = Tables.events(s, d).select(col("user_id"))
        val cells = Sketches.countMinCells(users, col("user_id"))
        val est = Sketches.countMinJoinSize(cells, cells)
        val exact = users.groupBy(col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * col("cnt")).as("exact_f2"))
        est.crossJoin(broadcast(exact))
          .select(col("exact_f2"), col("cms_join_size"),
            (col("cms_join_size") - col("exact_f2")).as("overcount"))
      }
    },
    Some(s"""WITH src AS (SELECT user_id FROM events),
      __cm_js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      __cm_freq AS (
        SELECT user_id, COUNT(*) AS __freq FROM src GROUP BY 1),
      __cm_cells AS (
        SELECT j, ${Sampling.hashBucketSql(
          "CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 256)} AS bucket,
          CAST(SUM(__freq) AS BIGINT) AS cnt
        FROM __cm_freq CROSS JOIN __cm_js
        GROUP BY 1, 2),
      ip AS (
        SELECT j, CAST(SUM(cnt * cnt) AS BIGINT) AS ip
        FROM __cm_cells GROUP BY 1),
      est AS (SELECT MIN(ip) AS cms_join_size FROM ip),
      exact AS (
        SELECT CAST(SUM(__freq * __freq) AS BIGINT) AS exact_f2 FROM __cm_freq)
      SELECT exact_f2, cms_join_size, cms_join_size - exact_f2 AS overcount
      FROM est CROSS JOIN exact"""))

  /** MapState `transformWithState` parity: per-user favorite event type
    * (EventStream.topTypePerUser) — composite per-key state (a
    * type→count map in RocksDB, per-entry updates) fed TWO micro-batches
    * ([[SeriesFixtures.typedEventStream]]: two files split by event_id
    * parity, one file per trigger), so the argmax after batch 2 is only
    * correct if the map carried across batches. Update-mode emissions are reduced to the
    * latest per user (n_total strictly increases), and the oracle
    * recomputes the same deterministic argmax (count desc, type asc)
    * from the batch table. */
  private val x_stream_tws_toptype = Q(
    "x_stream_tws_toptype",
    (s, d) => EventStream.withRocksDbState(s) {
      EventStream.drain(s, "x_stream_tws_toptype", "update")(
          EventStream.topTypePerUser(s, SeriesFixtures.typedEventStream(s, d)))
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_total"), col("n_types"),
          col("top_type"), col("top_cnt"))).as("m"))
        .select(col("user_id"), col("m.n_total").as("n_total"),
          col("m.n_types").as("n_types"), col("m.top_type").as("top_type"),
          col("m.top_cnt").as("top_cnt"))
    },
    Some("""WITH ec AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2),
    tot AS (
      SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_total,
        CAST(COUNT(*) AS INTEGER) AS n_types
      FROM ec GROUP BY 1),
    top AS (
      SELECT user_id, event_type AS top_type, c AS top_cnt FROM ec
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY c DESC, event_type) = 1)
    SELECT user_id, n_total, n_types, top_type, top_cnt
    FROM tot JOIN top USING (user_id)"""))

  /** ListState `transformWithState` parity: per-user last-3 event feed
    * (EventStream.recentEventsPerUser) — the activity-history primitive
    * and the third member of the state trio (Value/Map/List). Max-k
    * selection is order-free, so the feed string is deterministic
    * whatever order rows arrive in; same two-batch fixture as the
    * MapState query, so the list must merge across the state store. */
  private val x_stream_tws_recent = Q(
    "x_stream_tws_recent",
    (s, d) => EventStream.withRocksDbState(s) {
      EventStream.drain(s, "x_stream_tws_recent", "update")(
          EventStream.recentEventsPerUser(s, SeriesFixtures.typedEventStream(s, d)))
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_seen"), col("n_kept"), col("recent"))).as("m"))
        .select(col("user_id"), col("m.n_seen").as("n_seen"),
          col("m.n_kept").as("n_kept"), col("m.recent").as("recent"))
    },
    Some("""WITH ev AS (
      SELECT event_id, date_trunc('second', ts) AS ts, user_id
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
    top3 AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev QUALIFY rn <= 3),
    agg AS (
      SELECT user_id,
        CAST(COUNT(*) AS INTEGER) AS n_kept,
        string_agg(CAST(event_id AS VARCHAR) || '@' || CAST(ms AS VARCHAR),
                   ',' ORDER BY rn) AS recent
      FROM top3 GROUP BY 1),
    tot AS (SELECT user_id, COUNT(*) AS n_seen FROM ev GROUP BY 1)
    SELECT user_id, n_seen, n_kept, recent FROM tot JOIN agg USING (user_id)"""))

  /** Small-files compaction — the table-maintenance job every
    * long-lived warehouse runs (streaming ingest and per-partition
    * writers fragment tables; a 100 TB scan over 10⁶ tiny files is
    * metadata-bound before it reads a byte): the orders table is landed
    * deliberately fragmented (64-way round-robin), compacted with
    * `repartitionByRange` on the natural sort key (which also restores
    * min/max file-skipping selectivity — compaction and clustering are
    * the same pass), compacted IN PLACE by the library op
    * `Scale.compactParquet` (byte-sized coalesce, tmp-write + atomic
    * swap), and read back. Content preservation is proven with the
    * order-independent [[Quality.tableChecksum]] per priority group,
    * which the oracle recomputes from the ORIGINAL table — the hash
    * matches only if the fragment → compact → swap → read roundtrip
    * preserved the exact row multiset. File-count mechanics are pinned
    * in ScaleSpec. */
  private val x_layout_compaction = Q(
    "x_layout_compaction",
    (s, d) => {
      val frag = Landing.dir(s, d, "graft_compaction_frag")(_ => ())
      Tables.orders(s, d).repartition(64)
        .write.mode("overwrite").parquet(frag)
      Scale.compactParquet(s, frag)
      val canon = concat_ws("|",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"), col("o_orderdate").cast("string"),
        col("o_orderpriority"))
      Quality.tableChecksum(
        s.read.parquet(frag)
          .withColumn("priority", col("o_orderpriority")),
        group = Seq("priority"), canonical = canon)
    },
    Some(s"""SELECT o_orderpriority AS priority,
      COUNT(*) AS n_rows,
      CAST(SUM(${Sampling.hashValueSql(
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
          "o_orderstatus || '|' || CAST(o_orderdate AS VARCHAR) || '|' || o_orderpriority")})
        % 4611686018427387904 AS BIGINT) AS checksum
    FROM orders
    GROUP BY 1"""))

  /** Timer-based sessionization parity: the fMGWS sessionizer's exact
    * semantics re-expressed on `transformWithState` with EXPLICIT
    * event-time timers (EventStream.sessionizeTws — delete-then-rearm
    * per batch, handleExpiredTimer flush), run through the real
    * RocksDB-backed operator and compared to the same gaps-and-islands
    * oracle as `x_stream_sessionize_parity` — including WHICH sessions
    * the closing watermark flushes. Completes the arbitrary-state API
    * surface: Value/Map/List state + timers, each oracle-proven. */
  private val x_stream_tws_sessionize = Q(
    "x_stream_tws_sessionize",
    (s, d) => EventStream.withRocksDbState(s) {
      EventStream.drain(s, "x_stream_tws_sessionize", "append")(
          EventStream.sessionizeTws(s, SeriesFixtures.sessionStream(s, d)))
        .select(col("user_id"), col("n_events"),
          timestamp_millis(col("start_ms")).as("session_start"),
          timestamp_millis(col("end_ms")).as("session_end"))
    },
    Some(SeriesFixtures.streamSessionsSql))

  /** Data-drift monitor — the freshness/distribution check a scheduled
    * pipeline runs BEFORE publishing each increment (row-volume or
    * value-distribution jumps are the first symptom of an upstream
    * break): per-month order volume and exact-decimal mean price, with
    * month-over-month deltas in integer micro-units via LAG, and a
    * drift flag on >20% movement of either. One combinable monthly
    * aggregate + a window over the TINY month frame — the check costs
    * one scan however large the fact is. */
  private val x_dq_drift = Q(
    "x_dq_drift", {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = Tables.orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).as("n_rows"),
            round(graft.core.Exact.avgMoney(col("o_totalprice")) * 1e6d)
              .cast("long").as("avg_price_micro"))
        val w = Window.orderBy(col("month"))
        monthly
          .withColumn("d_rows_pct_micro",
            round((col("n_rows") - lag(col("n_rows"), 1).over(w)).cast("double")
              * 1e6d / lag(col("n_rows"), 1).over(w)).cast("long"))
          .withColumn("d_price_pct_micro",
            round((col("avg_price_micro") - lag(col("avg_price_micro"), 1).over(w))
              .cast("double") * 1e6d / lag(col("avg_price_micro"), 1).over(w))
              .cast("long"))
          .withColumn("drift_flag",
            abs(coalesce(col("d_rows_pct_micro"), lit(0L))) > 200000L ||
              abs(coalesce(col("d_price_pct_micro"), lit(0L))) > 200000L)
      }
    },
    Some(s"""WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        COUNT(*) AS n_rows,
        CAST(ROUND(CAST(${graft.core.Exact.avgMoneySql("o_totalprice")} AS DOUBLE)
                   * 1000000) AS BIGINT) AS avg_price_micro
      FROM orders GROUP BY 1)
    SELECT month, n_rows, avg_price_micro,
      CAST(ROUND(CAST(n_rows - LAG(n_rows) OVER w AS DOUBLE) * 1000000
                 / LAG(n_rows) OVER w) AS BIGINT) AS d_rows_pct_micro,
      CAST(ROUND(CAST(avg_price_micro - LAG(avg_price_micro) OVER w AS DOUBLE)
                 * 1000000 / LAG(avg_price_micro) OVER w) AS BIGINT)
        AS d_price_pct_micro,
      (ABS(COALESCE(CAST(ROUND(CAST(n_rows - LAG(n_rows) OVER w AS DOUBLE) * 1000000
                               / LAG(n_rows) OVER w) AS BIGINT), 0)) > 200000
       OR ABS(COALESCE(CAST(ROUND(CAST(avg_price_micro - LAG(avg_price_micro) OVER w
                                       AS DOUBLE) * 1000000
                                  / LAG(avg_price_micro) OVER w) AS BIGINT), 0))
          > 200000) AS drift_flag
    FROM monthly
    WINDOW w AS (ORDER BY month)"""))

  /** k-core decomposition (Graph.kcorePeel) over the symmetric
    * customer↔supplier trade graph — the dense-cluster extractor that
    * link-graph curation runs to find spam rings / high-trust cores:
    * peel every node of residual degree < 35 until stable (≤4 rounds).
    * Peeling is monotone, so Spark's data-dependent early stop and the
    * oracle's fixed 4-round unroll provably agree (a converged round is
    * the identity — same equivalence the converged-PageRank oracle
    * uses). At sf0.01 round 1 removes roughly the lower half of the
    * customers, the cascade re-checks suppliers on the residual graph,
    * and the surviving core's degrees are re-reported on the residual
    * edges, bit-exact against the unrolled replay. */
  private val x_graph_kcore = Q(
    "x_graph_kcore",
    (s, d) => Graph.kcorePeel(GraphFixtures.tradeSym(s, d), k = 35, maxRounds = 4),
    Some {
      // the same delta recursion kcorePeel runs: dead_i = alive nodes
      // below k; survivors' degrees drop by their edges into dead_i
      def peel(i: Int) =
        s"""dead$i AS (SELECT node FROM a${i - 1} WHERE deg < 35),
        a$i AS (
          SELECT a.node, a.deg - COALESCE(c.c, 0) AS deg
          FROM a${i - 1} a LEFT JOIN (
            SELECT e.src AS node, COUNT(*) AS c
            FROM trade_sym e JOIN dead$i d ON d.node = e.dst
            GROUP BY 1) c ON c.node = a.node
          WHERE a.deg >= 35)"""
      s"""WITH ${GraphFixtures.tradeSymSql},
      a0 AS (SELECT src AS node, COUNT(*) AS deg FROM trade_sym GROUP BY 1),
      ${peel(1)},
      ${peel(2)},
      ${peel(3)},
      ${peel(4)}
      SELECT node, deg, deg >= 35 AS in_core FROM a4"""
    })

  /** Duplicated-passage detection (Dedup.dupPassages) — substring-level
    * dedup on the documents corpus: verbatim runs of ≥ 10 shared tokens
    * (8-grams, minRun 3) between document pairs, found by seed-and-
    * extend over frequency-capped positional gram digests and diagonal
    * gaps-and-islands. The signal document-level Jaccard/MinHash misses
    * when the copied block is a small fraction of each doc. The oracle
    * replays every stage (digests, seed cap, diagonal islands) via
    * [[Dedup.dupPassagesSql]]. */
  private val x_dedup_passages = Q(
    "x_dedup_passages",
    (s, d) => Dedup.dupPassages(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text"), gram = 8, minRun = 3, maxOcc = 16),
    Some(s"""WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    ${Dedup.dupPassagesSql("src", gram = 8, minRun = 3, maxOcc = 16)}
    SELECT doc_a, doc_b, n_passages, max_run_grams, max_span_tokens,
      dup_grams
    FROM __dp_out"""))

  /** Corpus snapshot diff (Snapshot.contentDiff) — the dataset-
    * versioning audit between releases: the "new" snapshot is a
    * DETERMINISTIC mutation of the documents corpus (every 13th doc
    * removed, every 11th surviving doc edited, one synthetic doc added
    * per 17th), so both engines derive both snapshots and the diff
    * itself is fully replayable. Digest-only full-outer join — payloads
    * never shuffle; output bounded by the churn. */
  private val x_dq_snapshot_diff = Q(
    "x_dq_snapshot_diff", {
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        val oldSnap = docs.select(col("doc_id"), col("text"))
        val base = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated")))
              .otherwise(col("text")).as("text"))
        val added = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("added doc "), col("doc_id")).as("text"))
        val newSnap = base.unionByName(added)
        graft.ops.Snapshot.contentDiff(oldSnap, newSnap,
          col("doc_id"), col("text"))
      }
    },
    Some("""WITH docs AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    o AS (SELECT doc_id AS id, md5(text) AS old_digest FROM docs),
    n AS (
      SELECT doc_id AS id,
        md5(CASE WHEN doc_id % 11 = 0 THEN text || ' updated' ELSE text END)
          AS new_digest
      FROM docs WHERE doc_id % 13 != 0
      UNION ALL
      SELECT doc_id + 10000000 AS id, md5('added doc ' || doc_id)
      FROM docs WHERE doc_id % 17 = 0)
    SELECT COALESCE(o.id, n.id) AS id,
      CASE WHEN o.id IS NULL THEN 'added'
           WHEN n.id IS NULL THEN 'removed'
           WHEN o.old_digest != n.new_digest THEN 'changed' END AS status,
      o.old_digest, n.new_digest
    FROM o FULL OUTER JOIN n ON o.id = n.id
    WHERE CASE WHEN o.id IS NULL THEN 'added'
               WHEN n.id IS NULL THEN 'removed'
               WHEN o.old_digest != n.new_digest THEN 'changed' END
          IS NOT NULL"""))

  /** Within-document repeated passages (Dedup.selfRepeatPassages) —
    * localized intra-doc repetition (template loops, choruses,
    * copy-pasted paragraphs) with the recurrence PERIOD, which Gopher's
    * aggregate repetition fractions can't localize. gram = 3 here
    * because the synthetic corpus carries no 8-gram self-repetition
    * (production template loops would run the default 8); the oracle
    * replays digests, per-doc seed caps, period diagonals and the
    * maximal-run period pick. */
  private val x_dedup_selfrepeat = Q(
    "x_dedup_selfrepeat",
    (s, d) => Dedup.selfRepeatPassages(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text"), gram = 3, minRun = 1, maxOcc = 16),
    Some(s"""WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    ${Dedup.selfRepeatPassagesSql("src", gram = 3, minRun = 1, maxOcc = 16)}
    SELECT doc_id, n_passages, max_run_grams, max_span_tokens, dup_grams,
      min_period
    FROM __sr_out"""))

  /** Per-document n-gram novelty (Dedup.gramNovelty) — the
    * memorization/boilerplate audit: fraction of each document's
    * positional 8-grams verbatim present in other documents. Scan-
    * linear (no pair join, no cap needed); the oracle recomputes
    * digests, doc frequencies, and the per-doc shares. */
  private val x_text_novelty = Q(
    "x_text_novelty",
    (s, d) => Dedup.gramNovelty(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text"), gram = 8),
    Some(s"""WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    ${Dedup.gramNoveltySql("src", gram = 8)}
    SELECT doc_id, n_grams, shared_grams, novel_frac FROM __gn_out"""))

  /** Out-of-vocabulary rate under a FIXED-SIZE corpus vocabulary — the
    * tokenizer-coverage audit run before committing to a vocab budget
    * (how much of each document falls outside the top-K word list?):
    * top-500 tokens by (count desc, token) TOTAL order — a
    * TakeOrderedAndProject, never a global sort — then per-doc token
    * totals vs vocabulary hits via a BROADCAST join against the
    * 500-row vocab. Occurrence explode is byte-linear; both aggregates
    * combinable; the vocab side is fixed-size however large the corpus.
    * The oracle re-derives the vocabulary and every per-doc fraction. */
  private val x_text_oov = Q(
    "x_text_oov", {
      (s, d) => {
        // toks has two consumers, but deliberately NOT checkpointed:
        // the subtree is a plain split+explode (no hashing), and
        // materializing the occurrence-grain frame costs more than the
        // second scan it saves — unlike the md5 gram pipelines
        val toks = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(500)
          .select(col("tok"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            count(when(col("in_vocab").isNull, 1)).as("n_oov"))
          .withColumn("oov_frac",
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
      }
    },
    Some(s"""WITH toks AS (
      SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS tok
      FROM documents WHERE text IS NOT NULL),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
        ORDER BY cnt DESC, tok LIMIT 500))
    SELECT t.doc_id, COUNT(*) AS n_tokens,
      COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
      CAST(COUNT(CASE WHEN v.tok IS NULL THEN 1 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS oov_frac
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY 1"""))

  /** Per-language ADAPTIVE quality gate — percentile thresholding (the
    * FineWeb/CCNet posture: a fixed score cutoff over-prunes low-
    * resource languages whose score distribution sits lower, so the
    * cutoff is a PER-LANGUAGE quantile, not a constant): rank each
    * document's quality score within its language partition, keep the
    * top half. percent_rank over a TOTAL order (score desc, doc_id) is
    * (rn−1)/(n−1) — pure integer-derived double division, bit-stable
    * across engines.
    *
    * Scale shape — the naive form is a straggler wall: a window
    * PARTITION BY lang puts an entire language in ONE task (half of
    * CommonCrawl is English). So the global per-language rank is
    * DECOMPOSED: (1) one combinable count by (lang, quality) — the
    * distinct-score frame, tiny next to the corpus; (2) a cumulative
    * better-score count by a window over THAT frame (partitions =
    * languages, rows = distinct scores — driver-scale, not doc-scale);
    * (3) per-doc rank = better_cnt + row_number within its
    * (lang, quality) TIE GROUP ordered by doc_id — fine-grained window
    * partitions, no skew magnet. Output is value-identical to the
    * single-window form the oracle runs. */
  private val x_curation_quantile_gate = Q(
    "x_curation_quantile_gate", {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // lang is a JOIN KEY below (null-unsafe): a NULL-lang doc would
        // silently vanish from the output instead of being classified —
        // filter explicitly, like every per-language query in the suite
        // two consumers (histogram aggregate + the per-doc join):
        // materialize the scored frame once so the quality formula runs
        // one pass over the corpus, not two
        val scored = Tables.documents(s, d)
          .filter(col("text").isNotNull && col("lang").isNotNull)
          .select(col("doc_id"), col("lang"),
            TextOps.qualityScore(col("text")).as("quality"))
          .localCheckpoint(true)
        // (1) distinct-score histogram per language (combinable agg)
        val hist = scored.groupBy(col("lang"), col("quality"))
          .agg(count(lit(1)).as("cnt"))
        // (2) strictly-better cumulative count + language total, both
        // over the TINY histogram frame
        val wCum = Window.partitionBy(col("lang"))
          .orderBy(col("quality").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(col("lang"))
        val ranked = hist
          .withColumn("better_cnt",
            coalesce(sum(col("cnt")).over(wCum), lit(0L)))
          .withColumn("n_lang", sum(col("cnt")).over(wTot))
        // (3) tie-group row_number per (lang, quality): fine-grained
        val wTie = Window.partitionBy(col("lang"), col("quality"))
          .orderBy(col("doc_id"))
        scored.join(ranked, Seq("lang", "quality"))
          .withColumn("rn", col("better_cnt") + row_number().over(wTie))
          .withColumn("pct_rank",
            when(col("n_lang") === 1, lit(0.0d))
              .otherwise((col("rn") - 1).cast("double")
                / (col("n_lang") - 1).cast("double")))
          .withColumn("keep", col("pct_rank") <= 0.5)
          .select(col("doc_id"), col("lang"), col("quality"),
            col("pct_rank"), col("keep"))
      }
    },
    Some(s"""WITH scored AS (
      SELECT doc_id, lang, ${TextOps.qualityScoreSql("text")} AS quality
      FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL)
    SELECT doc_id, lang, quality,
      PERCENT_RANK() OVER (PARTITION BY lang
                           ORDER BY quality DESC, doc_id) AS pct_rank,
      PERCENT_RANK() OVER (PARTITION BY lang
                           ORDER BY quality DESC, doc_id) <= 0.5 AS keep
    FROM scored"""))

  /** Round-5 flagship composite — the curation chain rebuilt from this
    * round's operators, end-to-end: entropy gate (boilerplate floor) →
    * bigram-LM gate (perplexity-proxy ceiling) → asymmetric containment
    * SURVIVORSHIP (a doc ≥80%-contained in another is dropped; mutual
    * containment keeps the min id — the quote dies, the page survives)
    * → deterministic 90/10 split → per-language TOKEN BUDGET fill
    * (hash-ordered cumulative token count capped per language — the
    * mixture-control step that turns a corpus into a training budget).
    * The oracle recomputes the whole composition, so stage INTERACTIONS
    * are hash-checked. Scale shape: the gates are the per-row/aggregate
    * plans proven individually; the budget is one window per language
    * partition; nothing new shuffles. */
  private val x_curation_pipeline_v2 = Q(
    "x_curation_pipeline_v2", {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs0 = TextFixtures.containmentDocs(s, d)
          .select(col("doc_id"), col("lang"), col("text"))
        val ent = TextOps.charEntropy(docs0, col("doc_id"), col("text"))
          .select(col("doc_id"), col("entropy_micro"))
        val lm = TextOps.bigramLogProb(docs0, col("doc_id"), col("text"))
          .select(col("doc_id"), col("avg_bigram_logprob"))
        // the gated frame feeds FOUR consumers (containment probe side,
        // corpus side, both verify joins, survivor anti-join) — without
        // materialization the entropy+bigram gate subtrees re-execute
        // under each one (measured ~4x the gate cost at sf0.1)
        val gated = docs0.join(ent, "doc_id").join(lm, "doc_id")
          .filter(col("entropy_micro") >= 2700000L
            && col("avg_bigram_logprob") >= -3.5)
          .localCheckpoint(true)
        // the pair list is consumed THREE times (both sides of the
        // mutuality self-join + the reversed frame) and is tiny —
        // without materialization each consumer re-runs the whole
        // containment pipeline (measured: the pipeline tail cost 252 s
        // instead of ~10 s at 100x)
        val pairs = Dedup.containmentPairs(
          Dedup.shingled(gated, col("doc_id"), col("text"),
            keep = Seq(col("lang"))),
          block = col("lang"), minC = 0.8)
          .localCheckpoint(true)
        val rev = pairs.select(col("doc_a").as("r_a"), col("doc_b").as("r_b"))
        val dropped = pairs
          .join(rev, col("r_a") === col("doc_b") && col("r_b") === col("doc_a"),
            "left")
          .filter(col("r_a").isNull || col("doc_a") > col("doc_b"))
          .select(col("doc_a").as("doc_id")).distinct()
        val survivors = gated.join(dropped, Seq("doc_id"), "left_anti")
        val train = survivors
          .filter(Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 90, "val" -> 10)) === "train")
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
        val w = Window.partitionBy(col("lang"))
          .orderBy(Sampling.hashValue(col("doc_id")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        train
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .filter(col("cum_tokens") <= 2000L)
          .select(col("doc_id"), col("lang"),
            col("n_tokens").cast("long").as("n_tokens"), col("cum_tokens"))
      }
    }, {
      val split = Sampling.splitLabelSql("doc_id", Seq("train" -> 90, "val" -> 10))
      Some(s"""WITH ${TextFixtures.containmentDocsSql("docs0")},
      ${TextOps.charEntropySql("docs0")},
      ${TextOps.bigramLogProbSql("docs0")},
      gated AS (
        SELECT d.doc_id, d.lang, d.text
        FROM docs0 d
        JOIN ent_scored e USING (doc_id)
        JOIN bg_scored b USING (doc_id)
        WHERE e.entropy_micro >= 2700000 AND b.avg_bigram_logprob >= -3.5),
      ${Dedup.shinglesSqlCte("gated", "sh", keep = Seq("lang"))},
      pairs AS (
        SELECT doc_a, doc_b
        FROM (${Dedup.containmentPairsSql("sh", Seq("lang"), 0.8)})),
      dropped AS (
        SELECT DISTINCT p.doc_a AS doc_id
        FROM pairs p LEFT JOIN pairs r
          ON r.doc_a = p.doc_b AND r.doc_b = p.doc_a
        WHERE r.doc_a IS NULL OR p.doc_a > p.doc_b),
      survivors AS (
        SELECT g.* FROM gated g ANTI JOIN dropped USING (doc_id)),
      train AS (
        SELECT doc_id, lang,
               CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n_tokens
        FROM survivors WHERE $split = 'train')
      SELECT doc_id, lang, n_tokens, cum_tokens FROM (
        SELECT doc_id, lang, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY lang
            ORDER BY ${Sampling.hashValueSql("doc_id")}, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
        FROM train)
      WHERE cum_tokens <= 2000""")
    })

  /** Round-5 flagship composite — the INCREMENTAL RELEASE pipeline a
    * standing corpus runs on each new crawl batch: (1) the new 20%
    * dedups against corpus+itself via the incremental LSH probe
    * (corpus-internal pairs never re-scored; a new doc dies if it
    * matches corpus or a smaller-id new doc), (2) survivors pass the
    * Gopher repetition gates, (3) the release is sharded
    * deterministically and (4) published as a per-shard MANIFEST —
    * doc count, token sum, order-free content checksum — the artifact
    * a training job validates before reading. Stage INTERACTIONS are
    * what the oracle checks: the dedup verdicts feed the gate feed the
    * shards feed the checksums, all replayed end-to-end. */
  private val x_curation_release = Q(
    "x_curation_incremental_release",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val isNewId = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val pairs = Dedup.minhashLshIncrementalMd5(
        Dedup.shingled(docs, col("doc_id"), col("text")),
        isNew = isNewId(col("doc_id")))
      val dead = pairs.filter(isNewId(col("doc_b")))
        .select(col("doc_b").as("doc_id"))
        .unionByName(pairs
          .filter(isNewId(col("doc_a")) && !isNewId(col("doc_b")))
          .select(col("doc_a").as("doc_id")))
        .distinct()
      val gated = TextOps.gopherQuality(
          docs.filter(isNewId(col("doc_id"))), col("doc_id"), col("text"))
        .filter(col("gopher_pass"))
        .join(dead, Seq("doc_id"), "left_anti")
      Sampling.withShardPlan(
          gated.select(col("doc_id"), col("n_words")), col("doc_id"), shards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("sum_words"),
          (sum(Sampling.hashValue(col("doc_id").cast("string"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            % lit(BigDecimal(4611686018427387904L))).cast("long").as("checksum"))
    },
    Some {
      val (shard, _) = Sampling.shardPlanSql("doc_id", 4)
      s"""WITH inc AS (
        SELECT * FROM (
          WITH ${Dedup.shinglesSqlCte(
            "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)", "rel_docs")},
          ${Dedup.minhashLshPairsMd5Sql("rel_docs")}
        ) t WHERE doc_a % 5 = 0 OR doc_b % 5 = 0),
      dead AS (
        SELECT doc_b AS doc_id FROM inc WHERE doc_b % 5 = 0
        UNION
        SELECT doc_a FROM inc WHERE doc_a % 5 = 0 AND doc_b % 5 <> 0),
      batch_src AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 5 = 0),
      ${TextOps.gopherQualitySql("batch_src", "gq")},
      survivors AS (
        SELECT doc_id, n_words FROM gq
        WHERE gopher_pass AND doc_id NOT IN (SELECT doc_id FROM dead))
      SELECT $shard AS shard, COUNT(*) AS n_docs,
        CAST(SUM(n_words) AS BIGINT) AS sum_words,
        CAST(SUM(${Sampling.hashValueSql("CAST(doc_id AS VARCHAR)")})
          % 4611686018427387904 AS BIGINT) AS checksum
      FROM survivors
      GROUP BY 1"""
    })

  /** ExactSubstr duplicated-span coverage (Dedup.exactSubstrCoverage)
    * — the per-document "how much of me is verbatim repeated
    * somewhere" measure suffix-array dedup trims on, computed
    * relationally (gram seeds + interval union, scan-linear, no pair
    * join). gram=5 so the sf0.01 corpus has non-trivial coverage;
    * minOcc=2 counts self-repeats like the suffix-array does. The
    * oracle recomputes digests, seed frequencies, and the
    * gaps-and-islands union bit-for-bit. */
  private val x_dedup_substr_coverage = Q(
    "x_dedup_substr_coverage",
    (s, d) => Dedup.exactSubstrCoverage(
      Tables.documents(s, d).filter(col("text").isNotNull),
      col("doc_id"), col("text"), gram = 5, minOcc = 2),
    Some(s"""WITH src AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    ${Dedup.exactSubstrCoverageSql("src", gram = 5, minOcc = 2)}
    SELECT doc_id, n_tokens, dup_tokens, n_spans, dup_frac
    FROM __sc_out"""))

  /** Blocking-quality evaluation for entity resolution — the two
    * numbers (Christen's record-linkage metrics) that decide a
    * blocking scheme BEFORE paying for the pairwise matcher:
    * REDUCTION RATIO (1 − candidate pairs / all pairs; candidates are
    * Σ k(k−1)/2 over block sizes — counted from block cardinalities,
    * never materialized) and PAIR COMPLETENESS (share of reference
    * duplicate pairs whose members land in the same block). The
    * reference pair set is the Jaccard-verified MinHash-LSH output
    * (the `x_dedup_minhash_lsh` pipeline — silver truth from the
    * high-recall detector, the standard posture when no labels exist;
    * exact-text truth would be degenerate: identical text lands in
    * identical blocks by construction). Two cheap schemes are scored
    * in one pass — a 2-char text prefix and Soundex of the first
    * token — via one role-struct explode per frame (no
    * filter-per-role UNION rescans of the corpus; the truth frame is
    * pair-bounded, so its two-branch union is cheap). Counts +
    * integer-derived micro ratios; the oracle replays both schemes
    * AND the full LSH truth chain. */
  private val x_er_blocking_eval = Q(
    "x_er_blocking_eval", {
      (s, d) => {
        val raw = Tables.documents(s, d).filter(col("text").isNotNull)
        val docs = raw
          .select(col("doc_id"), lower(col("text")).as("t"))
          .withColumn("bk_prefix2", substring(col("t"), 1, 2))
          .withColumn("bk_soundex",
            graft.ops.Phonetic.soundex(element_at(split(col("t"), " "), 1)))
          .withColumn("bk_len",
            expr("cast((size(split(t, ' ')) div 8) as string)"))
          .drop("t")
          .localCheckpoint(true) // feeds blocks, both truth sides, n
        val schemed = docs.select(col("doc_id"), explode(array(
            struct(lit("prefix2").as("scheme"), col("bk_prefix2").as("bk")),
            struct(lit("soundex_first").as("scheme"), col("bk_soundex").as("bk")),
            struct(lit("len_bucket").as("scheme"), col("bk_len").as("bk"))))
            .as("r"))
          .select(col("r.scheme").as("scheme"), col("r.bk").as("bk"))
        val blocks = schemed.filter(col("bk").isNotNull)
          .groupBy(col("scheme"), col("bk"))
          .agg(count(lit(1)).as("k"))
          .groupBy(col("scheme"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("k") * (col("k") - 1) / 2).cast("long").as("cand_pairs"))
        val truth = Dedup.minhashLshPairsMd5(
            Dedup.shingled(raw, col("doc_id"), col("text")))
          .select(col("doc_a"), col("doc_b"))
        val a = docs.select(col("doc_id").as("doc_a"),
          col("bk_prefix2").as("a_p2"), col("bk_soundex").as("a_sx"),
          col("bk_len").as("a_ln"))
        val b = docs.select(col("doc_id").as("doc_b"),
          col("bk_prefix2").as("b_p2"), col("bk_soundex").as("b_sx"),
          col("bk_len").as("b_ln"))
        val truePairs = truth.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
          .select(explode(array(
            struct(lit("prefix2").as("scheme"),
              (col("a_p2") <=> col("b_p2")).as("cov")),
            struct(lit("soundex_first").as("scheme"),
              (col("a_sx") <=> col("b_sx")).as("cov")),
            struct(lit("len_bucket").as("scheme"),
              (col("a_ln") <=> col("b_ln")).as("cov")))).as("r"))
          .select(col("r.scheme").as("scheme"), col("r.cov").as("cov"))
          .groupBy(col("scheme"))
          .agg(count(lit(1)).as("true_pairs"),
            count(when(col("cov"), 1)).as("true_covered"))
        val n = docs.agg(count(lit(1)).as("nn"))
        blocks.join(truePairs, Seq("scheme"))
          .crossJoin(broadcast(n))
          .select(col("scheme"), col("n_blocks"), col("cand_pairs"),
            col("true_pairs"), col("true_covered"),
            round((lit(1.0) - col("cand_pairs").cast("double")
              / (col("nn").cast("double") * (col("nn").cast("double") - 1) / 2))
              * 1e6).cast("long").as("reduction_micro"),
            round(col("true_covered").cast("double")
              / col("true_pairs").cast("double") * 1e6)
              .cast("long").as("completeness_micro"))
      }
    },
    Some(s"""WITH docs AS (
      SELECT doc_id, lower(text) AS t,
        substr(lower(text), 1, 2) AS bk_prefix2,
        CAST(len(${TextOps.tokensSql("text")}) // 8 AS VARCHAR) AS bk_len,
        ${TextOps.tokensSql("text")}[1] AS w
      FROM documents WHERE text IS NOT NULL),
    ${graft.ops.Phonetic.soundexSqlCtes("docs", "w",
      keyCols = Seq("doc_id", "bk_prefix2", "bk_len"))},
    dx AS (
      SELECT doc_id, bk_prefix2, bk_len, sx AS bk_soundex FROM __sx_out),
    truth AS (
      WITH ${Dedup.shinglesSqlCte(
        "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)",
        "mh_docs")},
      ${Dedup.minhashLshPairsMd5Sql("mh_docs")}),
    schemed AS (
      SELECT doc_id, 'prefix2' AS scheme, bk_prefix2 AS bk FROM dx
      UNION ALL
      SELECT doc_id, 'soundex_first' AS scheme, bk_soundex AS bk FROM dx
      UNION ALL
      SELECT doc_id, 'len_bucket' AS scheme, bk_len AS bk FROM dx),
    blocks AS (
      SELECT scheme, COUNT(*) AS n_blocks,
        CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS cand_pairs
      FROM (SELECT scheme, bk, COUNT(*) AS k FROM schemed
            WHERE bk IS NOT NULL GROUP BY 1, 2)
      GROUP BY 1),
    tp AS (
      SELECT t.doc_a, t.doc_b,
        a.bk_prefix2 IS NOT DISTINCT FROM b.bk_prefix2 AS cov_p2,
        a.bk_soundex IS NOT DISTINCT FROM b.bk_soundex AS cov_sx,
        a.bk_len IS NOT DISTINCT FROM b.bk_len AS cov_ln
      FROM truth t
      JOIN dx a ON a.doc_id = t.doc_a
      JOIN dx b ON b.doc_id = t.doc_b),
    tpx AS (
      SELECT 'prefix2' AS scheme, cov_p2 AS cov FROM tp
      UNION ALL
      SELECT 'soundex_first' AS scheme, cov_sx AS cov FROM tp
      UNION ALL
      SELECT 'len_bucket' AS scheme, cov_ln AS cov FROM tp),
    truep AS (
      SELECT scheme, COUNT(*) AS true_pairs,
        COUNT(CASE WHEN cov THEN 1 END) AS true_covered
      FROM tpx GROUP BY 1),
    n AS (SELECT COUNT(*) AS nn FROM docs)
    SELECT b.scheme, n_blocks, cand_pairs, true_pairs, true_covered,
      CAST(ROUND((CAST(1 AS DOUBLE) - CAST(cand_pairs AS DOUBLE)
        / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1) / 2)) * 1e6)
        AS BIGINT) AS reduction_micro,
      CAST(ROUND(CAST(true_covered AS DOUBLE)
        / CAST(true_pairs AS DOUBLE) * 1e6) AS BIGINT) AS completeness_micro
    FROM blocks b JOIN truep USING (scheme) CROSS JOIN n"""))

  /** KMV distinct sketch per event type ([[Sketches.kmvSketch]],
    * k = 64) with the exact count alongside — the mergeable
    * distinct-count summary whose CONTENT (the k smallest 56-bit
    * hashes, emitted as a csv string) the oracle replays bit-exactly,
    * where HLL could only be bound-checked. Types below saturation
    * return the exact count by construction. */
  private val x_sketch_kmv = Q(
    "x_sketch_kmv",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type").isNotNull)
      val sk = Sketches.kmvSketch(ev, col("event_type"), col("user_id"), 64)
      val exact = ev.groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      sk.join(exact, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_kept"),
          col("est_distinct"), col("exact_distinct"),
          concat_ws(",", col("kmv")).as("kmv_csv"))
    },
    Some(s"""WITH src AS (
      SELECT event_type AS grp, user_id AS k0 FROM events
      WHERE event_type IS NOT NULL),
    ${Sketches.kmvSketchSql("src", 64)},
    exact AS (
      SELECT grp, COUNT(DISTINCT k0) AS exact_distinct FROM src GROUP BY 1)
    SELECT s.grp AS event_type, n_kept, est_distinct, exact_distinct,
      array_to_string(kmv, ',') AS kmv_csv
    FROM __kmv_out s JOIN exact USING (grp)"""))

  /** KMV set operations across event-type pairs — the property HLL
    * lacks and the reason theta/KMV sketches run analytics stacks'
    * distinct arithmetic: the UNION sketch is the k smallest of two
    * merged k-lists (a bounded array op — sketches compose without
    * touching the corpus again), and the INTERSECTION estimate is
    * Jaccard-over-sketch-members × the union estimate. All from the
    * materialized per-type sketches; the pair join is a broadcast
    * nested loop over the |types|-row sketch table, nothing
    * corpus-sized. The oracle rebuilds sketches AND replays every
    * merge, membership count, and estimate. */
  private val x_sketch_kmv_setops = Q(
    "x_sketch_kmv_setops",
    (s, d) => {
      val k = 64
      val ev = Tables.events(s, d).filter(col("event_type").isNotNull)
      val sk = Sketches.kmvSketch(ev, col("event_type"), col("user_id"), k)
        .select(col("grp"), col("kmv")).localCheckpoint(true)
      val a = sk.select(col("grp").as("grp_a"), col("kmv").as("kmv_a"))
      val b = sk.select(col("grp").as("grp_b"), col("kmv").as("kmv_b"))
      a.join(broadcast(b), col("grp_a") < col("grp_b"))
        .withColumn("merged",
          slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k))
        .withColumn("n_union_kept", size(col("merged")).cast("long"))
        .withColumn("est_union", round(
          when(col("n_union_kept") < k, col("n_union_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 56))
              / element_at(col("merged"), k).cast("double")), 6))
        .withColumn("n_both", size(filter(col("merged"),
          h => array_contains(col("kmv_a"), h) &&
            array_contains(col("kmv_b"), h))).cast("long"))
        .withColumn("est_intersection", round(
          col("n_both").cast("double") * col("est_union")
            / col("n_union_kept").cast("double"), 6))
        .select(col("grp_a"), col("grp_b"), col("n_union_kept"),
          col("est_union"), col("n_both"), col("est_intersection"))
    },
    Some(s"""WITH src AS (
      SELECT event_type AS grp, user_id AS k0 FROM events
      WHERE event_type IS NOT NULL),
    ${Sketches.kmvSketchSql("src", 64)},
    p AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, a.kmv AS ka, b.kmv AS kb
      FROM __kmv_out a JOIN __kmv_out b ON a.grp < b.grp),
    m AS (
      SELECT grp_a, grp_b, ka, kb,
        list_sort(list_distinct(ka || kb))[1:64] AS merged
      FROM p),
    e AS (
      SELECT grp_a, grp_b, merged, ka, kb,
        CAST(len(merged) AS BIGINT) AS n_union_kept,
        ROUND(CASE WHEN len(merged) < 64 THEN CAST(len(merged) AS DOUBLE)
          ELSE CAST(63 AS DOUBLE) * CAST(72057594037927936 AS DOUBLE)
            / CAST(merged[64] AS DOUBLE) END, 6) AS est_union
      FROM m)
    SELECT grp_a, grp_b, n_union_kept, est_union,
      CAST(len([h for h in merged
                if list_contains(ka, h) AND list_contains(kb, h)])
        AS BIGINT) AS n_both,
      ROUND(CAST(len([h for h in merged
                      if list_contains(ka, h) AND list_contains(kb, h)])
          AS DOUBLE) * est_union / CAST(n_union_kept AS DOUBLE), 6)
        AS est_intersection
    FROM e"""))

  /** HyperLogLog distinct sketch per event type
    * ([[Sketches.hllSketch]], m = 64 registers) with the exact count
    * alongside — the register file itself is in the output
    * (`registers_csv`), so the oracle hash pins every register value,
    * the exact-integer harmonic sum, and both estimator branches
    * (linear counting fires for the small types, the raw harmonic
    * estimator for the saturated ones), not just a tolerance band
    * around an engine-private estimate. */
  private val x_sketch_hll = Q(
    "x_sketch_hll",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type").isNotNull)
      val sk = Sketches.hllSketch(ev, col("event_type"), col("user_id"))
      val exact = ev.groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      sk.join(exact, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_hit"), col("v_zero"),
          col("z_int"), col("est_hll"), col("exact_distinct"),
          col("registers_csv"))
    },
    Some(s"""WITH src AS (
      SELECT event_type AS grp, user_id AS k0 FROM events
      WHERE event_type IS NOT NULL),
    ${Sketches.hllSketchSql("src")},
    exact AS (
      SELECT grp, COUNT(DISTINCT k0) AS exact_distinct FROM src GROUP BY 1)
    SELECT s.grp AS event_type, n_hit, v_zero, z_int, est_hll,
      exact_distinct, registers_csv
    FROM __hll_out s JOIN exact USING (grp)"""))

  /** STREAMING parity of the HLL sketch: the register fold is a
    * streaming groupBy(grp, bucket) MAX over micro-batches — the
    * commutative/idempotent max is exactly what lets the sketch absorb
    * an unbounded stream in bounded state (≤ |groups|·64 registers in
    * the store, however many events arrive). The corpus is landed as
    * TWO files read one per trigger, so registers must merge across
    * the state store, and the final register file + estimate must
    * equal the batch sketch — the ORACLE IS SHARED with
    * `x_sketch_hll`. */
  private val x_stream_hll_parity = Q(
    "x_stream_hll_parity",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type").isNotNull)
        .select(col("event_type"), col("user_id"))
      val tmp = Landing.dir(s, d, "graft_stream_hll") { t =>
        ev.filter(col("user_id") % 2 === 0).coalesce(1)
          .write.mode("overwrite").parquet(t)
        ev.filter(col("user_id") % 2 =!= 0).coalesce(1)
          .write.mode("append").parquet(t)
      }
      val src = s.readStream
        .schema("event_type STRING, user_id BIGINT")
        .option("maxFilesPerTrigger", "1") // registers must cross batches
        .parquet(tmp)
      val regs = src
        .select(col("event_type").as("grp"),
          Sampling.hashValue(col("user_id")).as("h"))
        .select(col("grp"), (col("h") % Sketches.HllM).as("bucket"),
          shiftright(col("h"), 6).as("w"))
        .withColumn("rho", when(col("w") === 0, lit(51))
          .otherwise(lit(51) - length(bin(col("w")))))
        .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("reg"))
      val sk = Sketches.hllEstimate(graft.streaming.EventStream
        .drain(s, "x_stream_hll_parity", "complete")(regs).localCheckpoint(true))
      val exact = ev.groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      sk.join(exact, Seq("grp"))
        .select(col("grp").as("event_type"), col("n_hit"), col("v_zero"),
          col("z_int"), col("est_hll"), col("exact_distinct"),
          col("registers_csv"))
    },
    Some(s"""WITH src AS (
      SELECT event_type AS grp, user_id AS k0 FROM events
      WHERE event_type IS NOT NULL),
    ${Sketches.hllSketchSql("src")},
    exact AS (
      SELECT grp, COUNT(DISTINCT k0) AS exact_distinct FROM src GROUP BY 1)
    SELECT s.grp AS event_type, n_hit, v_zero, z_int, est_hll,
      exact_distinct, registers_csv
    FROM __hll_out s JOIN exact USING (grp)"""))

  /** HLL merge identity — the property the register file exists for:
    * the UNION of two corpora's sketches (per-bucket register MAX, a
    * bounded array-table op that never re-touches either corpus) must
    * equal the sketch built over the concatenated corpus REGISTER BY
    * REGISTER, because max is associative/commutative/idempotent.
    * Splits the event stream by user-id parity, merges the two
    * sketches, and emits the merged AND whole-corpus register files
    * plus both estimates — the oracle replays the split, the merge,
    * and the identity (`registers_match` is computed, not asserted, so
    * a violation would surface as a hash mismatch AND a false in the
    * row). */
  private val x_sketch_hll_union = Q(
    "x_sketch_hll_union",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("event_type").isNotNull)
        .select(lit("all").as("grp"), col("user_id"),
          (col("user_id") % 2).as("half"))
      // per-half register files, then merged: max per bucket
      val regsByHalf = ev
        .select(concat(lit("h"), col("half")).as("grp"),
          Sampling.hashValue(col("user_id")).as("h"))
        .select(col("grp"), (col("h") % Sketches.HllM).as("bucket"),
          shiftright(col("h"), 6).as("w"))
        .withColumn("rho", when(col("w") === 0, lit(51))
          .otherwise(lit(51) - length(bin(col("w")))))
        .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("reg"))
      val merged = Sketches.hllEstimate(
        regsByHalf.groupBy(col("bucket"))
          .agg(max(col("reg")).as("reg"))
          .select(lit("merged").as("grp"), col("bucket"), col("reg")))
      val whole = Sketches.hllSketch(ev, col("grp"), col("user_id"))
      merged.select(col("est_hll").as("est_merged"),
          col("registers_csv").as("regs_merged"))
        .crossJoin(broadcast(whole.select(col("est_hll").as("est_whole"),
          col("registers_csv").as("regs_whole"),
          col("n_hit"), col("v_zero"), col("z_int"))))
        .withColumn("registers_match",
          col("regs_merged") === col("regs_whole"))
        .select(col("est_merged"), col("est_whole"), col("registers_match"),
          col("n_hit"), col("v_zero"), col("z_int"), col("regs_whole"))
    },
    Some(s"""WITH ev AS (
      SELECT 'h' || CAST(user_id % 2 AS VARCHAR) AS grp, user_id
      FROM events WHERE event_type IS NOT NULL),
    hsrc AS (
      SELECT grp, ${Sampling.hashValueSql("user_id")} AS h FROM ev),
    regs_half AS (
      SELECT grp, h % ${Sketches.HllM} AS bucket,
        CAST(MAX(CASE WHEN h >> 6 = 0 THEN 51
          ELSE 51 - length(bin(h >> 6)) END) AS INTEGER) AS reg
      FROM hsrc GROUP BY 1, 2),
    regs_merged AS (
      SELECT 'merged' AS grp, bucket, CAST(MAX(reg) AS INTEGER) AS reg
      FROM regs_half GROUP BY 2),
    ${Sketches.hllEstimateSql("regs_merged", "__hll_m")},
    regs_whole AS (
      SELECT 'all' AS grp, bucket, CAST(MAX(reg) AS INTEGER) AS reg
      FROM regs_half GROUP BY 2),
    ${Sketches.hllEstimateSql("regs_whole", "__hll_w")}
    SELECT m.est_hll AS est_merged, w.est_hll AS est_whole,
      m.registers_csv = w.registers_csv AS registers_match,
      w.n_hit, w.v_zero, w.z_int, w.registers_csv AS regs_whole
    FROM __hll_m m CROSS JOIN __hll_w w"""))

  /** HLL set-operation completion: INTERSECTION cardinality via
    * inclusion–exclusion over three register files — |A∩B| ≈
    * Ê(A) + Ê(B) − Ê(A∪B), where the union sketch is the per-bucket
    * register MAX (exact for HLL, the property x_sketch_hll_union
    * pins) — the audience-overlap estimator (users who both click AND
    * purchase) every sketch warehouse derives, with its known caveat
    * surfaced rather than hidden: inclusion–exclusion inherits THREE
    * estimators' errors, so the result ships NEXT TO the exact
    * intersection and the relative error is a computed column the
    * oracle hashes (the estimate is checked, not asserted).
    *
    * Scale shape: one hash pass over the filtered corpus into two
    * 64-register files; union-merge, all three estimates, and the
    * inclusion–exclusion run on ≤3·64 rows. The exact comparison arm
    * is two distinct-sets + one semi-join (row-linear). */
  private val x_sketch_hll_intersect = Q(
    "x_sketch_hll_intersect",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase")
          && col("user_id").isNotNull)
        .select(col("event_type"), col("user_id"))
        .localCheckpoint(true) // sketch pass + exact arm
      def regsOf(t: String, g: String) = ev
        .filter(col("event_type") === t)
        .select(lit(g).as("grp"), Sampling.hashValue(col("user_id")).as("h"))
        .select(col("grp"), (col("h") % Sketches.HllM).as("bucket"),
          shiftright(col("h"), 6).as("w"))
        .withColumn("rho", when(col("w") === 0, lit(51))
          .otherwise(lit(51) - length(bin(col("w")))))
        .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("reg"))
      val ra = regsOf("click", "a")
      val rb = regsOf("purchase", "b")
      val ru = ra.unionByName(rb).groupBy(col("bucket"))
        .agg(max(col("reg")).as("reg"))
        .select(lit("u").as("grp"), col("bucket"), col("reg"))
      val ests = Sketches.hllEstimate(ra.unionByName(rb).unionByName(ru))
        .groupBy()
        .agg(max(when(col("grp") === "a", col("est_hll"))).as("est_a"),
          max(when(col("grp") === "b", col("est_hll"))).as("est_b"),
          max(when(col("grp") === "u", col("est_hll"))).as("est_union"))
      val ua = ev.filter(col("event_type") === "click")
        .select(col("user_id")).distinct()
      val ub = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      val exact = ua.join(ub, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("exact_intersect"))
      ests.crossJoin(broadcast(exact))
        .withColumn("est_intersect",
          round(col("est_a") + col("est_b") - col("est_union"), 6))
        .withColumn("rel_err_micro", expr(
          "CAST(ROUND((est_intersect - exact_intersect)" +
            " / CAST(exact_intersect AS DOUBLE) * 1000000) AS BIGINT)"))
        .select(col("est_a"), col("est_b"), col("est_union"),
          col("est_intersect"), col("exact_intersect"), col("rel_err_micro"))
    },
    Some(s"""WITH ev AS (
      SELECT event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL),
    h AS (
      SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS grp,
        ${Sampling.hashValueSql("user_id")} AS h
      FROM ev),
    regs_ab AS (
      SELECT grp, h % ${Sketches.HllM} AS bucket,
        CAST(MAX(CASE WHEN h >> 6 = 0 THEN 51
          ELSE 51 - length(bin(h >> 6)) END) AS INTEGER) AS reg
      FROM h GROUP BY 1, 2),
    regs_u AS (
      SELECT 'u' AS grp, bucket, CAST(MAX(reg) AS INTEGER) AS reg
      FROM regs_ab GROUP BY 2),
    regs_all AS (
      SELECT * FROM regs_ab UNION ALL SELECT * FROM regs_u),
    ${Sketches.hllEstimateSql("regs_all", "__hll_i")},
    ests AS (
      SELECT MAX(CASE WHEN grp = 'a' THEN est_hll END) AS est_a,
        MAX(CASE WHEN grp = 'b' THEN est_hll END) AS est_b,
        MAX(CASE WHEN grp = 'u' THEN est_hll END) AS est_union
      FROM __hll_i),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect FROM (
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'click'
        INTERSECT
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'))
    SELECT est_a, est_b, est_union,
      ROUND(est_a + est_b - est_union, 6) AS est_intersect,
      exact_intersect,
      CAST(ROUND((ROUND(est_a + est_b - est_union, 6) - exact_intersect)
        / CAST(exact_intersect AS DOUBLE) * 1000000) AS BIGINT)
        AS rel_err_micro
    FROM ests CROSS JOIN exact"""))

  /** AMS / CountSketch second-moment (F₂) estimate over the lineitem
    * supplier stream — the join-size/self-join-size estimator of
    * Alon–Matias–Szegedy 1996 in its CountSketch form (Charikar et
    * al. 2002): d=5 hash rows × w=256 signed counters, F̂₂ = MEDIAN
    * over rows of Σ_b counter_b². Complements the suite's existing
    * frequency sketches (Count-Min answers point queries and never
    * undercounts; CountSketch's signed cells make Σc² an UNBIASED F₂
    * estimator). The md5-56 hash family is engine-portable, so the
    * oracle replays every cell, every row estimate, and the median —
    * bit-exact, no tolerance. Emitted next to the exact F₂ with the
    * relative error, so the estimate is CHECKED, not asserted.
    *
    * Scale shape: the only corpus-sized op is one combinable
    * SUM(sign) into d·w = 1280 cells (explode ×5 is map-side, rows
    * never shuffle); everything after runs on ≤1280 rows. BIGINT
    * headroom: Σ_b c² ≤ w·(n/1)² needs n ≲ 6·10⁹ stream rows — past
    * that, widen the cell squares to DECIMAL(38,0) on both engines. */
  private val x_sketch_countsketch_f2 = Q(
    "x_sketch_countsketch_f2",
    (s, d) => {
      val items = Tables.lineitem(s, d).select(col("l_suppkey").as("k"))
        .localCheckpoint(true) // sketch pass + the exact-F2 pass
      val cells = items
        .withColumn("r", explode(lit((0 until 5).toArray)))
        .withColumn("h", Sampling.hashValue(concat(lit("cs"),
          col("r").cast("string"), lit(":"), col("k").cast("string"))))
        .select(col("r"), (col("h") % 256).as("b"),
          expr("1 - 2 * ((h DIV 256) % 2)").as("sgn"))
        .groupBy(col("r"), col("b"))
        .agg(sum(col("sgn")).as("c"))
      val ests = cells.groupBy(col("r"))
        .agg(sum(col("c") * col("c")).as("est"))
      val wMed = org.apache.spark.sql.expressions.Window
        .orderBy(col("est"), col("r"))
      val med = ests.withColumn("rn", row_number().over(wMed))
        .filter(col("rn") === 3) // median of the 5 row estimates
        .select(col("est").as("est_f2"))
      val exact = items.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("exact_f2"))
      exact.crossJoin(broadcast(med))
        .select(col("n_rows"), col("n_keys"), col("exact_f2"),
          col("est_f2"),
          round((col("est_f2") - col("exact_f2")).cast("double")
            / col("exact_f2").cast("double"), 6).as("rel_err"))
    },
    Some(s"""WITH items AS (SELECT l_suppkey AS k FROM lineitem),
      hashed AS (
        SELECT u.r AS r,
          ${Sampling.hashValueSql(
            "'cs' || CAST(u.r AS VARCHAR) || ':' || CAST(k AS VARCHAR)")}
            AS h
        FROM items, unnest([0, 1, 2, 3, 4]) AS u(r)),
      cells AS (
        SELECT r, h % 256 AS b,
          CAST(SUM(1 - 2 * ((h // 256) % 2)) AS BIGINT) AS c
        FROM hashed GROUP BY 1, 2),
      ests AS (
        SELECT r, CAST(SUM(c * c) AS BIGINT) AS est
        FROM cells GROUP BY 1),
      med AS (
        SELECT est AS est_f2 FROM (
          SELECT est, ROW_NUMBER() OVER (ORDER BY est, r) AS rn
          FROM ests) WHERE rn = 3),
      ex AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
          CAST(COUNT(*) AS BIGINT) AS n_keys,
          CAST(SUM(c * c) AS BIGINT) AS exact_f2
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
              FROM items GROUP BY k))
      SELECT n_rows, n_keys, exact_f2, est_f2,
        ROUND(CAST(est_f2 - exact_f2 AS DOUBLE)
          / CAST(exact_f2 AS DOUBLE), 6) AS rel_err
      FROM ex CROSS JOIN med"""))

  /** Q-digest quantile sketch over the order-price distribution
    * ([[Sketches.qdigestBuild]]: domain = price/10 in a 16-bit dyadic
    * tree, k = 800) — the output IS the digest: every surviving
    * (level, prefix, count) node, so the oracle hash pins all 16
    * integer compression rounds node-for-node, where an
    * `approx_percentile` KLL could only be bound-checked. */
  private val x_sketch_qdigest = Q(
    "x_sketch_qdigest",
    (s, d) => Sketches.qdigestBuild(Tables.orders(s, d),
      floor(col("o_totalprice") / 10).cast("long"), bits = 16, k = 800),
    Some(s"""WITH src AS (
      SELECT CAST(floor(o_totalprice / 10) AS BIGINT) AS v FROM orders),
    ${Sketches.qdigestBuildSql("src", bits = 16, k = 800)}
    SELECT level, prefix, cnt, lo, hi, n, thr FROM __qd_out"""))

  /** Quantile answers from the q-digest with the guarantee CHECKED:
    * each q's estimate, its true rank from exact leaf counts, the
    * rank overshoot, and `within_bound` = rank_err ≤ n·log₂(u)/k —
    * the deterministic error contract of the 2004 paper, computed (not
    * asserted) on both engines. */
  private val x_sketch_qdigest_q = Q(
    "x_sketch_qdigest_quantiles",
    (s, d) => {
      val orders = Tables.orders(s, d)
      val v = floor(col("o_totalprice") / 10).cast("long")
      val digest = Sketches.qdigestBuild(orders, v, bits = 16, k = 800)
      Sketches.qdigestQuantiles(digest, orders, v,
        qs = Seq(0.25, 0.5, 0.9, 0.99), bits = 16, k = 800)
    },
    Some(s"""WITH src AS (
      SELECT CAST(floor(o_totalprice / 10) AS BIGINT) AS v FROM orders),
    ${Sketches.qdigestBuildSql("src", bits = 16, k = 800)},
    ${Sketches.qdigestQuantilesSql("src", Seq(0.25, 0.5, 0.9, 0.99),
        bits = 16, k = 800)}
    SELECT q, n, r, est, est_rank, exact_q, rank_err, within_bound
    FROM __qdq_out"""))

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of the
    * two retrieval modalities every RAG/hybrid-search stack runs: the
    * BM25 lexical top-20 ([[TextOps.bm25TopK]]) and the dense cosine
    * top-20 for a query embedding ([[Similarity.bruteForceTopK]];
    * doc_id ≡ vec_id in the testdata), fused by
    * Σ 1/(60 + rank) — RANK-space fusion, which is what makes RRF the
    * default hybrid combiner: no score normalization across
    * incomparable scales, a missing arm contributes 0, and the fused
    * order depends only on the arms' integer ranks, so it is exactly
    * engine-replayable (two double divisions per row, rounded before
    * the fused ranking's total order).
    *
    * Scale shape: both arms end bounded (top-k); the fusion is a
    * full-outer join of two ≤ k-row frames plus a ≤ 2k-row ranking
    * window — nothing corpus-sized after the arms themselves, and each
    * arm keeps its own scale path (term-pruned explode; brute-force
    * swappable for the LSH/IVF serving path with no fusion change). */
  private val x_text_rrf = Q(
    "x_text_rrf_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val lex = TextOps.bm25TopK(docs, "doc_id", col("text"),
          terms = Seq("spark", "window", "scan"), k = 20)
        .select(col("doc_id"), col("rank").as("rank_lex"))
      val emb = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 0), emb, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_dense"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)), 6))
        .withColumn("fused_rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
    },
    Some(s"""WITH lex AS (
      SELECT doc_id, rank AS rank_lex FROM (
        ${TextOps.bm25TopKSql(
          "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)",
          Seq("spark", "window", "scan"), 20)})),
    dense AS (
      SELECT neighbor_id AS doc_id, rank AS rank_dense FROM (
        ${Similarity.bruteForceTopKSql("vec_id = 0", k = 20)})),
    f AS (
      SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id, rank_lex, rank_dense,
        ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + rank_lex), 0)
          + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_dense), 0), 6) AS rrf
      FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id)
    SELECT doc_id, rank_lex, rank_dense, rrf,
      CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
        AS fused_rank
    FROM f"""))

  /** URL-canonicalization dedup ([[Urls.canonicalizeUrl]]) — the
    * alias-collapse pass crawl curation runs before exact dedup. The
    * dirty corpus is generated deterministically from the event stream
    * (same proof shape as the media tables: both engines build
    * IDENTICAL inputs, so the only way the hashes match is if the
    * canonicalization itself agrees), exercising every rule at once:
    * case-shuffled scheme/host, default port 443 dropped vs non-default
    * 8443 kept, utm params stripped, param order shuffled then sorted,
    * fragments and trailing slashes dropped. Canonicalization is
    * row-local; the dedup is ONE combinable groupBy on the canonical
    * string — output bounded by distinct resources, not crawl size. */
  private val x_dedup_url = Q(
    "x_dedup_url_canon",
    (s, d) => {
      val e = col("event_id")
      val scheme = when(e % 3 === 0, lit("https"))
        .when(e % 3 === 1, lit("HTTPS")).otherwise(lit("Https"))
      val host = when(e % 2 === 0,
          concat(lit("shop-"), e % 7, lit(".example.com")))
        .otherwise(concat(lit("SHOP-"), e % 7, lit(".Example.COM")))
      val port = when(e % 5 <= 1, lit(":443"))
        .when(e % 5 === 2, lit(":8443")).otherwise(lit(""))
      val path = concat(lit("/p/"), col("event_type"), lit("/"), e % 40,
        when(e % 5 === 0, lit("/")).otherwise(lit("")))
      val utm = concat(lit("utm_source=m"), e % 11)
      val refp = concat(lit("ref="), e % 3)
      val qstr = when(e % 2 === 0, concat(utm, lit("&"), refp))
        .otherwise(concat(refp, lit("&"), utm))
      val frag = when(e % 7 === 0, lit("#sec")).otherwise(lit(""))
      val urls = Tables.events(s, d).filter(col("event_type").isNotNull)
        .select(e.as("event_id"),
          concat(scheme, lit("://"), host, port, path, lit("?"), qstr, frag)
            .as("url"))
      urls.withColumn("canonical", Urls.canonicalizeUrl(col("url")))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("event_id")).as("first_event"))
    },
    Some(s"""WITH urls AS (
      SELECT event_id,
        (CASE event_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
          ELSE 'Https' END)
        || '://'
        || (CASE WHEN event_id % 2 = 0
            THEN 'shop-' || CAST(event_id % 7 AS VARCHAR) || '.example.com'
            ELSE 'SHOP-' || CAST(event_id % 7 AS VARCHAR) || '.Example.COM'
            END)
        || (CASE WHEN event_id % 5 <= 1 THEN ':443'
            WHEN event_id % 5 = 2 THEN ':8443' ELSE '' END)
        || '/p/' || event_type || '/' || CAST(event_id % 40 AS VARCHAR)
        || (CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END)
        || '?'
        || (CASE WHEN event_id % 2 = 0
            THEN 'utm_source=m' || CAST(event_id % 11 AS VARCHAR)
              || '&ref=' || CAST(event_id % 3 AS VARCHAR)
            ELSE 'ref=' || CAST(event_id % 3 AS VARCHAR)
              || '&utm_source=m' || CAST(event_id % 11 AS VARCHAR) END)
        || (CASE WHEN event_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
      FROM events WHERE event_type IS NOT NULL)
    SELECT ${Urls.canonicalizeUrlSql("url")} AS canonical,
      CAST(COUNT(*) AS BIGINT) AS n_urls,
      CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
      MIN(event_id) AS first_event
    FROM urls
    GROUP BY 1"""))

  /** Curriculum ordering for training: score each document's
    * difficulty (mean chars per token — ratio of exact ints, one
    * rounded division), quartile it over the total order (difficulty,
    * doc_id), then interleave tiers round-robin — position
    * (rank_in_tier − 1)·4 + tier starts every 4-doc stride with one
    * document from each difficulty quartile, the standard easy-to-hard
    * mixing schedule.
    *
    * Scale shape: the global rank comes from
    * [[graft.ops.Scale.globalRowNumberBy]] (range-repartition + local
    * windows + a #partitions-row prefix sum — NO single-task NTILE
    * window), and everything downstream is pure integer arithmetic on
    * that rank: tier = (r−1)·4 div N + 1, tier start
    * b(t) = (t·N+3) div 4, rank_in_tier = r − b(tier−1). Exact
    * quartiles (sizes within ±1, identical to the windowed
    * formulation) at range-shuffle cost, and the oracle replays the
    * same arithmetic off DuckDB's ROW_NUMBER. */
  private val x_curation_curriculum = Q(
    "x_curation_curriculum",
    (s, d) => {
      // text is nullable in the documents schema: rank only non-null
      // texts so Spark's NULLS FIRST vs DuckDB's NULLS LAST window
      // defaults can never shift the global order.
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(
          col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_words"),
          length(col("text")).as("n_chars"))
        .withColumn("difficulty",
          round(col("n_chars").cast("double") / col("n_words"), 6))
      val ranked = Scale.globalRowNumberBy(
        docs, Seq(col("difficulty"), col("doc_id")))
      val n = docs.agg(count(lit(1)).as("n_total"))
      ranked.crossJoin(broadcast(n))
        .withColumn("tier",
          expr("CAST((global_rn - 1) * 4 DIV n_total + 1 AS INT)"))
        .withColumn("rank_in_tier",
          expr("global_rn - (CAST(tier - 1 AS BIGINT) * n_total + 3) DIV 4"))
        .select(col("doc_id"), col("n_words"), col("difficulty"), col("tier"),
          ((col("rank_in_tier") - 1) * 4 + col("tier")).cast("int").as("pos"))
    },
    Some(s"""WITH d AS (
        SELECT doc_id,
          CAST(len(${TextOps.tokensSql("text")}) AS INTEGER) AS n_words,
          CAST(length(text) AS INTEGER) AS n_chars
        FROM documents WHERE text IS NOT NULL),
      scored AS (
        SELECT doc_id, n_words,
          ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS difficulty
        FROM d),
      ranked AS (
        SELECT doc_id, n_words, difficulty,
          ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS r,
          COUNT(*) OVER () AS n_total
        FROM scored),
      tiered AS (
        SELECT doc_id, n_words, difficulty, r, n_total,
          CAST((r - 1) * 4 // n_total + 1 AS INTEGER) AS tier
        FROM ranked)
      SELECT doc_id, n_words, difficulty, tier,
        CAST((r - (CAST(tier - 1 AS BIGINT) * n_total + 3) // 4 - 1) * 4 + tier
          AS INTEGER) AS pos
      FROM tiered"""))

  /** Inverted-index build — the search-index half of a retrieval
    * pipeline as two combinable aggregates. Per-document DISTINCT terms
    * come from a per-row `array_distinct` (no extra shuffle), document
    * frequency is a plain count, and the stored posting-list prefix is
    * the bounded top-k aggregate keyed by −doc_id (k smallest doc ids,
    * ascending) — so per-term aggregation state is CONSTANT even for
    * stopword-grade terms whose full posting list is corpus-sized. The
    * full-list variant (collect_list) is exactly the anti-pattern this
    * formulation replaces: at 100 TB a hot term's list IS the corpus.
    * df keeps the true total, so downstream ranking (see x_text_bm25)
    * loses nothing. */
  private val x_text_inverted_index = Q(
    "x_text_inverted_index",
    (s, d) => {
      import graft.functions.GraftFunctions
      val terms = Tables.documents(s, d).select(col("doc_id"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      terms.groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          GraftFunctions.topKBy(
            -col("doc_id").cast("double"), col("doc_id"), 16).as("nn"))
        .select(col("term"), col("df"),
          expr("array_join(transform(nn, x -> cast(x.key as bigint)), ',')")
            .as("postings_csv"))
    },
    Some(s"""WITH t0 AS (
        SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS term
        FROM documents),
      t AS (SELECT DISTINCT doc_id, term FROM t0),
      g AS (
        SELECT term, COUNT(*) AS df,
          list(CAST(doc_id AS BIGINT) ORDER BY doc_id) AS all_p
        FROM t GROUP BY 1)
      SELECT term, df,
        array_to_string(all_p[1:16], ',') AS postings_csv FROM g"""))

  /** Pointwise-mutual-information collocation mining: adjacent-word
    * bigrams scored by ln((c_ab/B) / ((c_a/N)(c_b/N))) — the standard
    * phrase-detection signal for tokenizer/vocab construction. Unigram
    * and bigram counts are two combinable aggregates; the score join is
    * bigram→unigram equi-joins (never a cross product); the min-count
    * ≥ 5 filter bounds the scored set the way every collocation system
    * does. PMI is fixed-pointed to micro-nats (exact-integer ratio
    * arithmetic, one ln, round·10⁶ — the lp_micro discipline), so the
    * oracle replays it bit-exactly. */
  private val x_text_pmi = Q(
    "x_text_pmi_collocations",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val totals = uni.agg(sum(col("cw")).as("n_uni")).crossJoin(
        toks.filter(size(col("t")) >= 2)
          .agg(sum(size(col("t")) - 1).as("n_big")))
      val big = toks.filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      big
        .join(uni.select(col("w").as("a"), col("cw").as("ca")), "a")
        .join(uni.select(col("w").as("b"), col("cw").as("cb")), "b")
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("cab"),
          round(log(
            (col("cab").cast("double") / col("n_big"))
              / ((col("ca").cast("double") / col("n_uni"))
                * (col("cb").cast("double") / col("n_uni")))) * 1e6)
            .cast("long").as("pmi_micro"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, ${TextOps.tokensSql("text")} AS t FROM documents),
      tok AS (
        SELECT doc_id, generate_subscripts(t, 1) AS i, unnest(t) AS w
        FROM toks),
      uni AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY 1),
      totals AS (
        SELECT
          (SELECT CAST(SUM(cw) AS BIGINT) FROM uni) AS n_uni,
          (SELECT CAST(SUM(len(t) - 1) AS BIGINT) FROM toks
            WHERE len(t) >= 2) AS n_big),
      big AS (
        SELECT x.w AS a, y.w AS b, COUNT(*) AS cab
        FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.i = x.i + 1
        GROUP BY 1, 2
        HAVING COUNT(*) >= 5)
      SELECT big.a, big.b, big.cab,
        CAST(ROUND(ln(
          (CAST(big.cab AS DOUBLE) / t.n_big)
            / ((CAST(ua.cw AS DOUBLE) / t.n_uni)
              * (CAST(ub.cw AS DOUBLE) / t.n_uni))) * 1000000.0) AS BIGINT)
          AS pmi_micro
      FROM big
      JOIN uni ua ON big.a = ua.w
      JOIN uni ub ON big.b = ub.w
      CROSS JOIN totals t"""))

  /** Rendezvous (highest-random-weight) sharding and its minimal-
    * movement property, measured: each document's shard is the argmax
    * over shards of the engine-portable 56-bit hash of (doc, shard) —
    * computed at 16 and at 17 shards in ONE pass (one ×17 explode, two
    * conditional argmax aggregates riding the same groupBy; the argmax
    * key packs (hash, shard) into a single total-order BIGINT). Where
    * modulo sharding (x_shard_plan) moves ~16/17 of all documents when
    * a shard is added, rendezvous moves only those whose new-shard hash
    * wins — E[moved] = 1/17 — which is why stateful systems (shuffle-
    * less reshards, cache rings) use it. Output: per-shard document
    * count and how many leave when shard 17 appears. */
  private val x_shard_rendezvous = Q(
    "x_shard_rendezvous",
    (s, d) => {
      val e = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("s", explode(array((0 until 17).map(i => lit(i)): _*)))
        .withColumn("h", Sampling.hashValue(
          concat_ws(":", col("doc_id"), col("s"))))
        .withColumn("key", col("h") * 32 + col("s"))
      e.groupBy(col("doc_id"))
        .agg(
          max_by(col("s"), when(col("s") < 16, col("key"))).as("shard16"),
          max_by(col("s"), col("key")).as("shard17"))
        .groupBy(col("shard16"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("shard17") =!= col("shard16"), 1)).as("n_moved"))
    },
    Some(s"""WITH e AS (
        SELECT doc_id, sh.s AS s,
          ${Sampling.hashValueSql(
            "CAST(doc_id AS VARCHAR) || ':' || CAST(sh.s AS VARCHAR)")} AS h
        FROM documents, (SELECT unnest(range(0, 17)) AS s) sh),
      k AS (SELECT doc_id, s, h * 32 + s AS key FROM e),
      a AS (
        SELECT doc_id,
          arg_max(CASE WHEN s < 16 THEN s END,
            CASE WHEN s < 16 THEN key END) AS shard16,
          arg_max(s, key) AS shard17
        FROM k GROUP BY doc_id)
      SELECT CAST(shard16 AS INTEGER) AS shard16,
        COUNT(*) AS n_docs,
        COUNT(CASE WHEN shard17 <> shard16 THEN 1 END) AS n_moved
      FROM a GROUP BY 1"""))

  /** Synchronous label-propagation communities
    * ([[Graph.labelPropagation]], 3 rounds) over the bipartite
    * customer–supplier order graph, reduced to community sizes. The
    * oracle unrolls all three rounds — join, modal count, (count DESC,
    * label ASC) top-1 — exactly as the engine executes them; the
    * deterministic tie order is what makes an otherwise
    * heuristic-looking algorithm hash-checkable. */
  private val x_graph_labelprop = Q(
    "x_graph_labelprop",
    (s, d) => Graph.labelPropagation(GraphFixtures.trade(s, d), rounds = 3)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node")), {
      val round = (prev: String, cur: String) =>
        s"""$cur AS (
          SELECT node, label FROM (
            SELECT e.dst AS node, l.label, COUNT(*) AS c,
              ROW_NUMBER() OVER (PARTITION BY e.dst
                ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM trade_sym e JOIN $prev l ON e.src = l.node
            GROUP BY e.dst, l.label)
          WHERE rn = 1)"""
      Some(s"""WITH ${GraphFixtures.tradeSymSql},
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM trade_sym),
        ${round("l0", "l1")},
        ${round("l1", "l2")},
        ${round("l2", "l3")}
        SELECT label, COUNT(*) AS n_members, MIN(node) AS min_node
        FROM l3 GROUP BY label""")
    })

  /** k-center coreset ([[Similarity.kCenterCoreset]], k = 4): greedy
    * farthest-point exemplars over the embedding corpus + per-exemplar
    * membership count and coverage radius. The oracle unrolls the three
    * greedy picks (min rounded-d2 to the seed set, argmax with id
    * tiebreak) and the final argmin assignment — the same squared-L2
    * phrasing the kmeans oracle replays. */
  private val x_embed_coreset = Q(
    "x_embed_coreset",
    (s, d) => Similarity.kCenterCoreset(
      Tables.embeddings(s, d), id = "vec_id", vec = "embedding", k = 4), {
      val d2 = (v: String, cv: String) =>
        s"""ROUND(list_inner_product($v, $v) + list_inner_product($cv, $cv)
            - 2 * list_inner_product($v, $cv), 6)"""
      val pick = (seeds: String, dcte: String, fcte: String, next: String) =>
        s"""$dcte AS (
          SELECT b.id, MIN(${d2("b.v", "s.cv")}) AS dmin
          FROM base b CROSS JOIN $seeds s GROUP BY b.id),
        $fcte AS (SELECT id FROM $dcte ORDER BY dmin DESC, id LIMIT 1),
        $next AS (
          SELECT * FROM $seeds
          UNION ALL
          SELECT b.id AS cid, b.v AS cv FROM base b JOIN $fcte USING (id))"""
      Some(s"""WITH base AS (
          SELECT vec_id AS id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        seeds1 AS (
          SELECT id AS cid, v AS cv FROM base ORDER BY id LIMIT 1),
        ${pick("seeds1", "d1", "f1", "seeds2")},
        ${pick("seeds2", "d2c", "f2", "seeds3")},
        ${pick("seeds3", "d3", "f3", "seeds4")},
        asg AS (
          SELECT id, cid, dd AS d2 FROM (
            SELECT b.id, s.cid, ${d2("b.v", "s.cv")} AS dd,
              ROW_NUMBER() OVER (PARTITION BY b.id
                ORDER BY ${d2("b.v", "s.cv")}, s.cid) AS rn
            FROM base b CROSS JOIN seeds4 s)
          WHERE rn = 1)
        SELECT cid, COUNT(*) AS n_members, MAX(d2) AS radius_d2
        FROM asg GROUP BY cid""")
    })

  def all: Seq[Q] = Seq(
    x_curation_curriculum,
    x_text_inverted_index,
    x_text_pmi,
    x_shard_rendezvous,
    x_graph_labelprop,
    x_embed_coreset,
    x_sketch_hll,
    x_sketch_hll_union,
    x_sketch_hll_intersect,
    x_stream_hll_parity,
    x_sketch_qdigest,
    x_sketch_qdigest_q,
    x_text_rrf,
    x_dedup_url,
    x_sketch_kmv,
    x_sketch_kmv_setops,
    x_dq_l_diversity,
    x_er_blocking_eval,
    x_dedup_substr_coverage,
    x_curation_release,
    x_layout_compaction,
    x_dq_drift,
    x_graph_kcore,
    x_dedup_passages,
    x_curation_quantile_gate,
    x_text_novelty,
    x_text_oov,
    x_dedup_selfrepeat,
    x_dq_snapshot_diff,
    x_curation_pipeline_v2,
    x_stream_tws_sessionize,
    x_dq_skew_report,
    x_dq_table_checksum,
    x_sketch_join_size,
    x_stream_tws_toptype,
    x_stream_tws_recent,
    x_text_entropy,
    x_sim_lsh_recall,
    x_dedup_containment,
    x_multimodal_audio_frames,
    x_sketch_countmin,
    x_sketch_countsketch_f2,
    x_dq_k_anonymity,
    x_text_regex_tokens,
    x_text_bigram_logprob,
  )
}
