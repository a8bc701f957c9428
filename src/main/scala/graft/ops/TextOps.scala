package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Confs

/** Text-analysis operators for training-data curation — extension tier.
  * All row-local builtin-function compositions (no UDFs): they stay
  * inside whole-stage codegen and scale embarrassingly.
  */
object TextOps {

  /** Whitespace tokens (with duplicates), lower-cased. */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** [[tokens]] of the DuckDB expression `textExpr`, for the oracles. */
  def tokensSql(textExpr: String): String = s"string_split(lower($textExpr), ' ')"

  /** BPE-ish subword count: alphabetic runs, digit runs, and any other
    * non-space symbol each count as one piece — a cheap deterministic
    * proxy for tokenizer cost used to budget training data. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Per-language marker-word sets for the language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "y", "es", "una"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  /** N-gram/stopword language-ID heuristic, written to column `out`:
    * score = marker-token hits per language; CJK characters
    * short-circuit to "zh"; argmax with ties resolved to the FIRST
    * language in [[langMarkers]] order (the foldRight when-chain,
    * matching the oracle's CASE order); "und" (undetermined) when
    * nothing scores. Deterministic and SQL-mirrorable (greatest + CASE
    * in the oracle).
    *
    * The distinct-token array is STAGED as a column first: inlined
    * into every marker score, Catalyst's subexpression elimination
    * does not reach through the conditional when-chain and the
    * split/distinct gets re-evaluated per language. Staging measured
    * 2.2× faster at sf0.1. */
  def withLangId(df: DataFrame, text: Column, out: String): DataFrame = {
    val toks = "__langid_toks"
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(col(toks), typedlit(markers)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    df.withColumn(toks, array_distinct(tokens(text)))
      .withColumn(out,
        when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(pick))
      .drop(toks)
  }

  /** DuckDB CTEs replaying [[withLangId]] over `srcCte` (a relation
    * with a `text` column): `$out` holds every source column plus
    * `lang_pred`. The marker lists and their CASE order come from
    * [[langMarkers]], so the replay cannot drift from the Spark form. */
  def langIdSql(srcCte: String, out: String): String = {
    val score = langMarkers.map { case (lang, _) => s"__lid_$lang" }
    val best = score.mkString("greatest(", ", ", ")")
    val scoreCols = langMarkers.zip(score).map { case ((_, markers), s) =>
      s"len(list_intersect(__lid_t, ${markers.mkString("['", "','", "']")})) AS $s"
    }
    val picks = langMarkers.zip(score).map { case ((lang, _), s) =>
      s"WHEN $s = $best THEN '$lang'"
    }
    s"""__lid_toks AS (
      SELECT *, list_distinct(${tokensSql("text")}) AS __lid_t FROM $srcCte),
    __lid_scores AS (
      SELECT *, ${scoreCols.mkString(", ")} FROM __lid_toks),
    $out AS (
      SELECT * EXCLUDE (__lid_t, ${score.mkString(", ")}),
        CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
             WHEN $best = 0 THEN 'und'
             ${picks.mkString("\n             ")}
        END AS lang_pred
      FROM __lid_scores)"""
  }

  /** The quality formula over ALREADY-AVAILABLE token/distinct-token
    * expressions — single source of truth for both public forms (weights
    * and stoplist defined exactly once). */
  private def qualityFrom(text: Column, toks: Column, dtoks: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val nDistinct = size(dtoks).cast("double")
    val stopHits = size(array_intersect(dtoks,
      typedlit(Seq("a", "the", "of", "and", "is")))).cast("double")
    val lenScore = least(nChars / lit(500.0), lit(1.0))
    val diversity = nDistinct / nToks
    val stopScore = least(stopHits / lit(2.0), lit(1.0))
    round(lit(0.4) * lenScore + lit(0.3) * diversity + lit(0.3) * stopScore, 6)
  }

  /** Quality score in [0,1]: weighted blend of length saturation,
    * lexical diversity, and stopword-rate sanity — the standard cheap
    * pre-filters for web-scraped training text. Fixed double arithmetic
    * (same expression order as the SQL oracle → bit-stable). */
  def qualityScore(text: Column): Column =
    qualityFrom(text, tokens(text), array_distinct(tokens(text)))

  /** DuckDB SQL computing exactly [[qualityScore]] of `textExpr` —
    * single source for every oracle that gates on quality (weights,
    * stoplist and rounding defined once on each engine's side). */
  def qualityScoreSql(textExpr: String): String = {
    val toks = tokensSql(textExpr)
    s"""ROUND(0.4 * least(CAST(length($textExpr) AS DOUBLE) / 500.0, 1.0)
      + 0.3 * (CAST(len(list_distinct($toks)) AS DOUBLE)
               / CAST(len($toks) AS DOUBLE))
      + 0.3 * least(CAST(len(list_intersect(list_distinct($toks),
                             ['a','the','of','and','is'])) AS DOUBLE) / 2.0, 1.0),
      6)"""
  }

  /** One-pass text-statistics block with the token arrays STAGED: adds
    * `n_chars_calc, n_tokens, n_subwords, n_distinct_tokens,
    * quality_score` — value-identical to composing [[tokenCount]]/
    * [[subwordCount]]/[[qualityScore]] (same expression order), but the
    * token split and distinct run ONCE per row instead of once per
    * consuming expression (see [[withLangId]] for why CSE doesn't save
    * the inline form). */
  def withTextStats(df: DataFrame, text: Column): DataFrame = {
    val toks = "__ts_toks"
    val dtoks = "__ts_dtoks"
    df.withColumn(toks, tokens(text))
      .withColumn(dtoks, array_distinct(col(toks)))
      .withColumn("n_chars_calc", length(text))
      .withColumn("n_tokens", size(col(toks)))
      .withColumn("n_subwords", subwordCount(text))
      .withColumn("n_distinct_tokens", size(col(dtoks)))
      .withColumn("quality_score", qualityFrom(text, col(toks), col(dtoks)))
      .drop(toks, dtoks)
  }

  /** PII scrubbing patterns — written in the regex subset Java
    * (Spark) and RE2 (DuckDB) evaluate identically: plain character
    * classes and counted quantifiers, no backreferences/lookaround —
    * so redaction is oracle-checkable cross-engine. */
  private[ops] val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val phonePattern = "\\+?[0-9][0-9 ()./-]{6,}[0-9]"

  /** PII redaction for training text: replaces every email address,
    * then every phone-number-shaped digit run, with typed placeholder
    * tokens. Email first — its local part may contain digit runs that
    * the looser phone pattern would otherwise split. Pure per-row
    * expression: no shuffle, stays in whole-stage codegen. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "[EMAIL]"),
      phonePattern, "[PHONE]")

  /** DuckDB SQL computing exactly [[redactPii]] of `textExpr`
    * (DuckDB needs the explicit 'g' flag to replace all matches). */
  def redactPiiSql(textExpr: String): String =
    s"regexp_replace(regexp_replace($textExpr, '$emailPattern', '[EMAIL]', 'g'), " +
      s"'$phonePattern', '[PHONE]', 'g')"

  /** Sliding token-window chunking: split each document into chunks of
    * `chunkTokens` whitespace tokens overlapping by `overlap` — the
    * embedding/context-window prep step between a cleaned corpus and an
    * encoder. Emits one row per chunk with a 0-based `chunk_id` and the
    * chunk text; a document of ≤ `chunkTokens` tokens yields exactly one
    * chunk. Pure explode of a per-row index sequence — no shuffle, no
    * driver state, output rows ≈ input tokens / (chunkTokens - overlap).
    * Window arithmetic is plain SQL, so DuckDB recomputes it exactly
    * ([[chunkSqlParts]]). Rows with NULL text are the caller's problem —
    * filter first (their emitted row count is conf-dependent:
    * `size(NULL)` is −1 or NULL depending on legacy sizeOfNull). */
  def chunk(df: DataFrame, text: Column, chunkTokens: Int, overlap: Int,
            outId: String = "chunk_id", outText: String = "chunk_text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    val step = chunkTokens - overlap
    val toksName = Names.fresh("chunk_toks", df.columns)
    val toks = col(toksName)
    // chunks past the first only exist for tokens beyond the first
    // window: 1 + ceil((n - chunkTokens) / step), floored at 1
    val nChunks = (greatest(
      ceil((size(toks) - chunkTokens) / lit(step.toDouble)), lit(0)) + 1).cast("int")
    df.withColumn(toksName, split(text, " "))
      .withColumn(outId, explode(sequence(lit(0), nChunks - 1)))
      .withColumn(outText,
        array_join(slice(toks, col(outId) * step + 1, lit(chunkTokens)), " "))
      .drop(toksName)
  }

  /** DuckDB fragments mirroring [[chunk]] given a token-list expression:
    * (chunk-count expr, chunk-text expr in terms of a `chunk_id` column). */
  def chunkSqlParts(toksExpr: String, chunkTokens: Int, overlap: Int): (String, String) = {
    val step = chunkTokens - overlap
    (s"CAST(greatest(ceil((len($toksExpr) - $chunkTokens) / CAST($step AS DOUBLE)), 0) + 1 AS INTEGER)",
      s"array_to_string(list_slice($toksExpr, chunk_id * $step + 1, chunk_id * $step + $chunkTokens), ' ')")
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    * hash every CHARACTER k-gram of the text, then keep the minimum hash
    * of each sliding window of `w` consecutive gram hashes,
    * de-duplicated. Adds column `out: array<long>`. Near-identical
    * documents share most fingerprints, so a later explode + groupBy on
    * the fingerprint finds overlap clusters with one shuffle. The gram
    * hash is the classic Karp–Rabin polynomial roll (the paper's own
    * family): O(1) per gram — cheaper than any per-gram strong hash —
    * AND exactly recomputable by a SQL engine ([[rollingWinnowSqlCtes]]
    * replays the Horner fold per gram in DuckDB), so the whole
    * fingerprint selection is oracle-checkable. Native codegen'd kernel
    * (graft.functions.GraftFunctions.winnowRoll). */
  def withFingerprintsRolling(df: org.apache.spark.sql.DataFrame, text: Column,
                              out: String, k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame =
    df.withColumn(out, graft.functions.GraftFunctions.winnowRoll(text, k, w))

  /** DuckDB CTE chain replaying [[withFingerprintsRolling]]'s selection
    * over a `(doc_id, text)` source: `$out(doc_id, mins)` where `mins`
    * is the per-window minimum gram-hash list (de-duplication is the
    * consumer's `list_distinct`). */
  def rollingWinnowSqlCtes(srcCte: String, out: String, k: Int = 8, w: Int = 4): String = {
    val (b, p) = (graft.functions.Kernels.RollB, graft.functions.Kernels.RollP)
    def horner(chars: String) =
      s"""list_reduce([CAST(unicode(c) AS BIGINT) for c in string_split($chars, '')],
               (a, x) -> (a * $b + x) % $p)"""
    s"""__wg AS (
      SELECT doc_id, length(text) AS n,
        CASE WHEN length(text) = 0 THEN [CAST(0 AS BIGINT)]
             WHEN length(text) < $k THEN [${horner("text")}]
             ELSE [${horner(s"substr(text, i, $k)")}
                   for i in range(1, length(text) - $k + 2)]
        END AS grams
      FROM $srcCte),
    $out AS (
      SELECT doc_id,
        CASE WHEN n < $k THEN grams
             ELSE [list_min(grams[j : j + least($w, n - $k + 1) - 1])
                   for j in range(1, (CASE WHEN n - $k + 1 >= $w
                                           THEN n - $k + 1 - $w + 1
                                           ELSE 1 END) + 1)]
        END AS mins
      FROM __wg)"""
  }

  /** Per-document top-k terms by smoothed TF-IDF
    * (tf × ln((N+1)/(df+1))): the corpus-statistics feature extractor —
    * keyword tagging, near-dup explanations, quality signals.
    *
    * Three aggregations, all map-side-combinable: tf by (doc, term), df
    * by term (a count over the ALREADY-distinct (doc, term) frame — no
    * count-distinct expand), and the 1-row corpus size cross-joined in
    * (the scalar-subquery pattern, SURVEY A9). Scores are rounded to
    * 6dp before ranking — ln() may differ between engine libms in the
    * last ulp — and tie-broken on term, so top-k is a total order.
    * Top-k per doc plans as WindowGroupLimit (per-partition k-heap).
    * Terms shorter than `minLen` are dropped. */
  def tfIdfTopK(df: DataFrame, id: Column, text: Column, k: Int,
                minLen: Int = 3): DataFrame = {
    val toks = df.select(id.as("__id"), explode(tokens(text)).as("term"))
      .filter(length(col("term")) >= minLen)
    val tf = toks.groupBy(col("__id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(n)
      .withColumn("tfidf", round(col("tf") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__id"), col("term"), col("tf"), col("tfidf"), col("rank"))
  }

  /** Corpus-LM quality scoring (the CCNet-style perplexity proxy): each
    * document scored by the mean log-probability of its tokens under the
    * corpus's OWN unigram distribution. Low scorers are boilerplate/noise
    * outliers relative to the corpus — the standard cheap stand-in for a
    * real LM perplexity filter in web-scale curation.
    *
    * Scale shape: two map-side-combinable aggregations (doc-term tf, then
    * term → corpus count) and ONE shuffle equi-join on term — the join is
    * on the distinct (doc, term) frame, not raw token occurrences, so its
    * cardinality is bounded by vocabulary reuse. The 1-row corpus total is
    * the broadcast scalar-subquery pattern (SURVEY A9).
    *
    * Float discipline (oracle-exact across engines): per-term log-probs
    * are fixed-pointed to integer micro-nats (round(ln(p)·1e6)) so the
    * per-doc SUM is integer arithmetic — exact and summation-ORDER-free,
    * where a double sum would drift between Spark's and DuckDB's
    * aggregation orders — and only the final mean is a (rounded) double.
    */
  def unigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("doc_id"), explode(tokens(text)).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val lp = vocab.crossJoin(broadcast(total))
      .select(col("term"),
        round(log(col("cnt").cast("double") / col("total")) * 1e6d)
          .cast("long").as("lp_micro"))
    tf.join(lp, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("int").as("n_tokens"),
        round(sum(col("tf") * col("lp_micro")).cast("double") /
          (sum(col("tf")) * 1e6d), 6).as("avg_logprob"))
  }

  /** Gopher-rule thresholds (Rae et al. 2021's repetition filters,
    * adapted to word granularity — this corpus has no line structure):
    * a document passes when it is long enough, lexically diverse
    * enough, and no single word or bigram dominates it. Defined once;
    * the SQL oracle re-emits these same constants. */
  val GopherMinWords = 10
  val GopherMinDistinctRatio = 0.3
  val GopherMaxTopWordFrac = 0.2
  val GopherMaxTopBigramFrac = 0.18

  /** Gopher-style repetition/quality metrics per document: word count,
    * distinct-word ratio, the corpus-curation "most common word/bigram
    * fraction" repetition signals, and the combined pass flag.
    *
    * Shape (same discipline as [[tfIdfTopK]]): explode to words and to
    * adjacent-word bigrams, count by (doc, gram), then collapse to
    * per-doc max/sum/count — every aggregation is map-side-combinable
    * and the join back is on doc_id, so nothing exceeds (doc × distinct
    * gram) cardinality. Only COUNTS cross frames (never the gram
    * strings), so no tie-breaking is needed anywhere. Fractions are
    * single double divisions of exact integers rounded to 6dp —
    * bit-stable across engines. Documents with a single word have no
    * bigrams: top_bigram_frac is NULL and does not veto the pass flag
    * (the min-words rule already rejects them). */
  def gopherQuality(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), tokens(text).as("__toks"))
    val wtf = base.select(col("doc_id"), explode(col("__toks")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val wstats = wtf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_word_cnt"))
    // sequence(0, size-2) would run DESCENDING for 1-word docs — guard first
    val btf = base.filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(__toks) - 2)," +
          " i -> concat(__toks[i], ' ', __toks[i + 1]))")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
    val bstats = btf.groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_cnt"))
    wstats.join(bstats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        round(col("n_distinct").cast("double") / col("n_words"), 6)
          .as("distinct_ratio"),
        round(col("top_word_cnt").cast("double") / col("n_words"), 6)
          .as("top_word_frac"),
        round(col("top_bigram_cnt").cast("double") / (col("n_words") - 1), 6)
          .as("top_bigram_frac"))
      .withColumn("gopher_pass",
        col("n_words") >= GopherMinWords &&
          col("distinct_ratio") >= GopherMinDistinctRatio &&
          col("top_word_frac") <= GopherMaxTopWordFrac &&
          coalesce(col("top_bigram_frac") <= GopherMaxTopBigramFrac, lit(true)))
  }

  /** DuckDB CTE chain recomputing [[gopherQuality]] exactly over a
    * `(doc_id, text)` source CTE; final relation is `$out`. */
  def gopherQualitySql(srcCte: String, out: String): String =
    s"""__gq_base AS (
      SELECT doc_id, ${tokensSql("text")} AS toks FROM $srcCte),
    __gq_wtf AS (
      SELECT doc_id, unnest(toks) AS w FROM __gq_base),
    __gq_wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM __gq_wtf GROUP BY 1, 2),
    __gq_wstats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        COUNT(*) AS n_distinct, MAX(c) AS top_word_cnt
      FROM __gq_wc GROUP BY 1),
    __gq_btf AS (
      SELECT doc_id, unnest([toks[i] || ' ' || toks[i + 1]
                             for i in range(1, len(toks))]) AS b
      FROM __gq_base WHERE len(toks) >= 2),
    __gq_bc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM __gq_btf GROUP BY 1, 2),
    __gq_bstats AS (
      SELECT doc_id, MAX(c) AS top_bigram_cnt FROM __gq_bc GROUP BY 1),
    $out AS (
      SELECT doc_id, n_words,
        ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
        ROUND(CAST(top_word_cnt AS DOUBLE) / n_words, 6) AS top_word_frac,
        ROUND(CAST(top_bigram_cnt AS DOUBLE) / (n_words - 1), 6) AS top_bigram_frac,
        (n_words >= $GopherMinWords
          AND ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) >= $GopherMinDistinctRatio
          AND ROUND(CAST(top_word_cnt AS DOUBLE) / n_words, 6) <= $GopherMaxTopWordFrac
          AND COALESCE(ROUND(CAST(top_bigram_cnt AS DOUBLE) / (n_words - 1), 6)
                         <= $GopherMaxTopBigramFrac, TRUE)) AS gopher_pass
      FROM __gq_wstats LEFT JOIN __gq_bstats USING (doc_id))"""

  /** DuckDB CTE chain recomputing [[unigramLogProb]] exactly; `srcCte` is
    * a parenthesized relation with (doc_id, text). Integer-sum dtypes are
    * pinned to BIGINT (DuckDB SUM(INTEGER) is HUGEINT otherwise). */
  def unigramLogProbSql(srcCte: String): String =
    s"""toks AS (
      SELECT doc_id, unnest(${tokensSql("text")}) AS term
      FROM $srcCte),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
    lp AS (
      SELECT term,
        CAST(ROUND(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp_micro
      FROM vocab CROSS JOIN tot),
    scored AS (
      SELECT doc_id,
        CAST(SUM(tf) AS INTEGER) AS n_tokens,
        ROUND(CAST(SUM(tf * lp_micro) AS DOUBLE) / (SUM(tf) * 1000000.0), 6)
          AS avg_logprob
      FROM tf JOIN lp USING (term)
      GROUP BY doc_id)"""

  /** Bigram-LM document scoring — the next rung of the CCNet-style
    * perplexity-filter ladder above [[unigramLogProb]]: each document
    * scored by the mean conditional log-probability ln P(w₂|w₁) of its
    * adjacent word pairs under the corpus's OWN bigram MLE (count(w₁w₂)
    * / count(w₁·)). Real pipelines use a 5-gram KenLM; the bigram is
    * the same estimator at n=2 and shares its plan shape, and because
    * the model is fit on the scored corpus itself every observed bigram
    * has nonzero probability — no smoothing term to disagree on.
    *
    * Scale shape: bigram construction is per-row (transform over the
    * token array); then two map-side-combinable counts (doc×bigram tf,
    * bigram → corpus count), one combinable re-aggregate for the
    * context totals count(w₁·), and ONE shuffle equi-join of the
    * distinct (doc, bigram) frame against the model — join cardinality
    * is bounded by vocabulary reuse, not token occurrences. No window,
    * no driver state.
    *
    * Float discipline (same as [[unigramLogProb]]): per-bigram log-probs
    * fixed-pointed to integer micro-nats so the per-doc sum is
    * order-free integer arithmetic; only the final mean divides.
    * Documents with fewer than two tokens have no bigrams and drop out
    * (the unigram scorer covers them). */
  def bigramLogProb(df: DataFrame, id: Column, text: Column): DataFrame = {
    // spread the per-doc bigram explode across cores when the scan
    // arrived as a handful of splits (plan-time no-op at scale) — the
    // explode + (doc, w1, w2) partial aggregate is the corpus-sized
    // stage of this scorer and had been running on one core
    val base = Scale.spreadIfNarrow(
      df.select(id.as("doc_id"), tokens(text).as("__toks"))
        .filter(size(col("__toks")) >= 2), col("doc_id"))
    val btf = base.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(__toks) - 2)," +
          " i -> named_struct('w1', __toks[i], 'w2', __toks[i + 1]))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val model = btf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("cb"))
    val ctx = model.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val lp = model.join(ctx, "w1")
      .select(col("w1"), col("w2"),
        round(log(col("cb").cast("double") / col("cw")) * 1e6d)
          .cast("long").as("lp_micro"))
    btf.join(lp, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("int").as("n_bigrams"),
        round(sum(col("tf") * col("lp_micro")).cast("double") /
          (sum(col("tf")) * 1e6d), 6).as("avg_bigram_logprob"))
  }

  /** DuckDB CTE chain recomputing [[bigramLogProb]] exactly; `srcCte` is
    * a parenthesized relation with (doc_id, text); final relation
    * `bg_scored`. */
  def bigramLogProbSql(srcCte: String): String =
    s"""bg_base AS (
      SELECT doc_id, ${tokensSql("text")} AS toks
      FROM $srcCte),
    bg_tf AS (
      SELECT doc_id, w1, w2, COUNT(*) AS tf FROM (
        SELECT doc_id,
          unnest([{'w1': toks[i], 'w2': toks[i + 1]}
                  for i in range(1, len(toks))], recursive := true)
        FROM bg_base WHERE len(toks) >= 2)
      GROUP BY 1, 2, 3),
    bg_model AS (
      SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cb FROM bg_tf GROUP BY 1, 2),
    bg_ctx AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM bg_model GROUP BY 1),
    bg_lp AS (
      SELECT w1, w2,
        CAST(ROUND(ln(CAST(cb AS DOUBLE) / cw) * 1000000) AS BIGINT) AS lp_micro
      FROM bg_model JOIN bg_ctx USING (w1)),
    bg_scored AS (
      SELECT doc_id,
        CAST(SUM(tf) AS INTEGER) AS n_bigrams,
        ROUND(CAST(SUM(tf * lp_micro) AS DOUBLE) / (SUM(tf) * 1000000.0), 6)
          AS avg_bigram_logprob
      FROM bg_tf JOIN bg_lp USING (w1, w2)
      GROUP BY doc_id)"""

  /** Per-document character-entropy profile — the compressibility-proxy
    * quality signal (low-entropy docs are repetitive boilerplate;
    * implausibly high entropy flags binary junk/encoding damage).
    * Real pipelines often use zlib ratio; the Shannon form measures the
    * same order-0 redundancy but is exactly replayable cross-engine,
    * where a codec's byte count is implementation-defined.
    *
    * Fixed-point discipline: H = ln n − (Σ cᵢ·ln cᵢ)/n is computed as
    * `round(ln n · 1e6) − round(S/n)` with S = Σ cᵢ·round(ln cᵢ · 1e6)
    * — S is an ORDER-FREE integer sum (the only place addition happens),
    * so both engines produce the identical micro-nat integer.
    *
    * Scale shape: explode to characters (corpus-byte-linear), one
    * map-side-combinable (doc, char) count, one per-doc re-aggregate —
    * no windows, no joins. */
  def charEntropy(df: DataFrame, id: Column, text: Column): DataFrame =
    // one compiled pass per document (GraftFunctions.charEntropyStats)
    // instead of explode-to-characters + two aggregates: the explode
    // form shuffled one row per CHARACTER of the corpus through two
    // exchanges. Bit-identical sufficient statistics (same `.`-matched
    // character set, same HALF_UP micro-nat rounding, order-free
    // integer sums — see Kernels.charEntropyStats); docs with no
    // matching characters drop out exactly as their empty (doc, ch)
    // group did.
    df.select(id.as("doc_id"),
        graft.functions.GraftFunctions.charEntropyStats(text).as("__e"))
      .filter(col("__e").isNotNull)
      .select(col("doc_id"), col("__e.n_chars").as("n_chars"),
        col("__e.n_distinct_chars").as("n_distinct_chars"),
        col("__e.entropy_micro").as("entropy_micro"))

  /** DuckDB CTE chain recomputing [[charEntropy]] exactly; `srcCte` is a
    * parenthesized relation with (doc_id, text); final relation
    * `ent_scored`. */
  def charEntropySql(srcCte: String): String =
    s"""ent_chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM $srcCte),
    ent_cf AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM ent_chars GROUP BY 1, 2),
    ent_scored AS (
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS n_chars,
        CAST(COUNT(*) AS INTEGER) AS n_distinct_chars,
        CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)) * 1000000) AS BIGINT)
          - CAST(ROUND(CAST(SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000)
                                        AS BIGINT)) AS DOUBLE)
                       / SUM(c)) AS BIGINT) AS entropy_micro
      FROM ent_cf GROUP BY doc_id)"""

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019's regex,
    * simplified to ASCII classes so Java regex and RE2 agree literally):
    * contraction suffixes, space-prefixed letter runs, space-prefixed
    * digit runs, space-prefixed punctuation runs. Both engines run the
    * IDENTICAL pattern string — alternation is leftmost-first in both
    * (RE2 mimics Perl submatch semantics), and no lookarounds are used
    * (RE2 has none). */
  val Gpt2ishPattern = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ']+"

  /** Pre-tokenize into GPT-2-ish pieces (leading-space convention kept,
    * as real BPE vocabularies do — " the" and "the" are distinct
    * types). Per-row; stays in codegen. */
  def gpt2Tokens(text: Column): Column =
    regexp_extract_all(text, lit(Gpt2ishPattern), lit(0))

  /** The same call in DuckDB (group 0 is its default). */
  def gpt2TokensSql(textExpr: String): String = {
    val quoted = Gpt2ishPattern.replace("'", "''")
    s"regexp_extract_all($textExpr, '$quoted')"
  }

  /** Cross-document LINE-level deduplication (the C4 / RefinedWeb
    * preprocessing step: any line occurring in ≥ `minDocs` distinct
    * documents is boilerplate — nav bars, cookie banners, licence
    * footers — and is removed from EVERY document, which is a different
    * operator from whole-document dedup: documents survive, their
    * repeated spans don't). "Lines" here are deterministic
    * non-overlapping `lineTokens`-token windows ([[chunk]] with
    * overlap 0), since the corpus carries no newlines; on real web text
    * the same machinery runs on `split(text, '\n')`.
    *
    * Scale shape: explode to lines (linear), one combinable
    * count-distinct aggregate keyed by line text, one equi-join of
    * lines to their global frequency, one per-document re-aggregate
    * that stitches survivors back in order (`collect_list` of
    * (line_no, text) structs, array_sort, join) — no window over the
    * whole corpus, no driver-side state. A hot boilerplate line is ONE
    * aggregate key: skew lands in a combinable partial aggregate, not
    * a join fan-out.
    *
    * Output: (id, n_lines, n_kept, text_kept) — one row per input
    * document, `text_kept` empty (not NULL) when everything was
    * boilerplate. */
  def lineDedup(df: DataFrame, id: String, text: String,
                lineTokens: Int = 12, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would delete every line, got $minDocs")
    val lines = chunk(df.select(col(id), col(text)), col(text), lineTokens, 0,
      outId = "__line_no", outText = "__line_text")
    val freq = lines.groupBy(col("__line_text"))
      .agg(countDistinct(col(id)).as("__ndocs"))
    lines.join(freq, Seq("__line_text"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__ndocs") < minDocs, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__ndocs") < minDocs,
              struct(col("__line_no"), col("__line_text"))))),
            x => x.getField("__line_text")),
          " ").as("text_kept"))
  }

  /** DuckDB CTE chain recomputing [[lineDedup]] exactly; `srcCte` is a
    * parenthesized relation with (doc_id, text). */
  def lineDedupSql(srcCte: String, lineTokens: Int = 12, minDocs: Int = 2): String = {
    val (nChunks, chunkText) = chunkSqlParts("t", lineTokens, 0)
    s"""__ld_split AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM $srcCte),
    __ld_toks AS (
      SELECT doc_id, t, $nChunks AS n FROM __ld_split),
    __ld_exploded AS (
      SELECT doc_id, t,
        CAST(unnest(generate_series(0, n - 1)) AS INTEGER) AS chunk_id
      FROM __ld_toks),
    __ld_lines AS (
      SELECT doc_id, chunk_id AS line_no, $chunkText AS line_text
      FROM __ld_exploded),
    __ld_freq AS (
      SELECT line_text, COUNT(DISTINCT doc_id) AS ndocs
      FROM __ld_lines GROUP BY 1),
    __ld_out AS (
      SELECT doc_id,
        COUNT(*) AS n_lines,
        CAST(COALESCE(SUM(CASE WHEN ndocs < $minDocs THEN 1 END), 0) AS BIGINT)
          AS n_kept,
        COALESCE(string_agg(CASE WHEN ndocs < $minDocs THEN line_text END, ' '
          ORDER BY line_no), '') AS text_kept
      FROM __ld_lines JOIN __ld_freq USING (line_text)
      GROUP BY doc_id)"""
  }

  /** One BPE statistics step — the inner loop of byte-pair-encoding
    * tokenizer training (Sennrich et al., 2016): count adjacent
    * character-pair frequencies across the corpus and rank the top
    * merge candidates. Runs on the VOCABULARY, not the raw corpus —
    * the classic trick that makes BPE training corpus-size-independent
    * past the word-count pass: one linear explode to count words, then
    * all pair work is O(distinct words × word length). A 100 TB corpus
    * with a 10M-word vocabulary does the quadratic-looking part on 10M
    * rows. Single-char words carry no pairs and are filtered before
    * pair generation (both engines — Spark's `sequence(1, 0)` would
    * count DOWN, not return empty).
    *
    * Output: top-`k` (a, b, n, rank) by total pair count, ranked with
    * a total tiebreak (count desc, then pair lexicographically); the
    * ranking window runs AFTER a TakeOrdered top-k, so it orders ≤k
    * rows, never the corpus. */
  def bpePairStats(df: DataFrame, text: Column, k: Int = 50): DataFrame = {
    val vocab = df.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
    val pairs = vocab.select(col("cnt"),
      explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("a"),
          col("w").substr(i + lit(1), lit(1)).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
    val agg = pairs.groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))
    val top = agg.orderBy(col("n").desc, col("a"), col("b")).limit(k)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("a"), col("b"))).cast("int"))
  }

  /** DuckDB SQL recomputing [[bpePairStats]]; `srcCte` is a
    * parenthesized relation with a `text` column. */
  def bpePairStatsSql(srcCte: String, k: Int = 50): String =
    s"""WITH __bpe_toks AS (
      SELECT unnest(${tokensSql("text")}) AS w FROM $srcCte),
    __bpe_vocab AS (
      SELECT w, COUNT(*) AS cnt FROM __bpe_toks
      GROUP BY 1 HAVING len(w) >= 2),
    __bpe_pos AS (
      SELECT w, cnt,
        CAST(unnest(generate_series(1, len(w) - 1)) AS INTEGER) AS i
      FROM __bpe_vocab),
    __bpe_pairs AS (
      SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, cnt
      FROM __bpe_pos),
    __bpe_agg AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n
      FROM __bpe_pairs GROUP BY 1, 2)
    SELECT a, b, n,
      CAST(ROW_NUMBER() OVER (ORDER BY n DESC, a, b) AS INTEGER) AS rank
    FROM __bpe_agg
    QUALIFY rank <= $k"""

  /** BM25 ranked retrieval (Robertson–Spärck Jones / Lucene form) for a
    * fixed keyword query over the corpus — the search-serving shape
    * every curation stack needs for "find documents about X" audits and
    * retrieval-based decontamination. Per-term contributions are
    * converted to MICRO-integer units before summation (idf =
    * round(ln(...)·1e6), contribution rounded to integer micros), so
    * the only libm call is pinned by rounding and the document score is
    * an order-independent integer sum — bit-equal across engines and
    * partitionings, same discipline as [[unigramLogProb]].
    *
    *   idf(t)      = ln((N − df + 0.5)/(df + 0.5) + 1)
    *   contrib(t,d)= idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: one token explode filtered to the query terms (the
    * filter prunes before the shuffle, so work tracks matching tokens,
    * not corpus tokens), combinable tf/df aggregates, 1-row corpus
    * stats broadcast back, top-k as TakeOrdered + a ≤k-row ranking
    * window. Output: (id, n_terms, score_micro, rank), `n_terms` = how
    * many distinct query terms matched. */
  def bm25TopK(df: DataFrame, id: String, text: Column, terms: Seq[String],
               k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val docs = df.select(col(id), tokens(text).as("__toks"))
      .withColumn("__dl", size(col("__toks")))
    val stats = docs.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val tf = docs.select(col(id), col("__dl"), explode(col("__toks")).as("__t"))
      .filter(col("__t").isin(terms: _*))
      .groupBy(col(id), col("__dl"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val idf = tf.groupBy(col("__t"))
      .agg(countDistinct(col(id)).as("__df"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf_micro",
        round(log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
          + lit(1.0)) * lit(1e6)).cast("long"))
      .select(col("__t"), col("__idf_micro"))
    val scored = tf.join(broadcast(idf), Seq("__t"))
      .crossJoin(broadcast(stats))
      .withColumn("__contrib_micro",
        round(col("__idf_micro") * (col("__tf") * lit(k1 + 1)) /
          (col("__tf") + lit(k1) * (lit(1 - b)
            + lit(b) * col("__dl") / col("__avgdl")))).cast("long"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__contrib_micro")).as("score_micro"))
    val top = scored.orderBy(col("score_micro").desc, col(id)).limit(k)
    top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col(id))).cast("int"))
  }

  /** DuckDB SQL recomputing [[bm25TopK]]; `srcCte` is a parenthesized
    * relation with (doc_id, text). */
  def bm25TopKSql(srcCte: String, terms: Seq[String], k: Int = 20,
                  k1: Double = 1.2, b: Double = 0.75): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH __bm_docs AS (
      SELECT doc_id, ${tokensSql("text")} AS toks,
        len(${tokensSql("text")}) AS dl
      FROM $srcCte),
    __bm_stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM __bm_docs),
    __bm_tf AS (
      SELECT doc_id, dl, t, COUNT(*) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS t FROM __bm_docs)
      WHERE t IN ($termList) GROUP BY 1, 2, 3),
    __bm_idf AS (
      SELECT t, CAST(ROUND(ln((n - df + CAST(0.5 AS DOUBLE))
          / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
          * 1000000) AS BIGINT) AS idf_micro
      FROM (SELECT t, COUNT(DISTINCT doc_id) AS df FROM __bm_tf GROUP BY 1)
      CROSS JOIN __bm_stats),
    __bm_scored AS (
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_terms,
        CAST(SUM(CAST(ROUND(idf_micro * (tf * CAST(${k1 + 1} AS DOUBLE))
          / (tf + CAST($k1 AS DOUBLE) * (CAST(${1 - b} AS DOUBLE)
            + CAST($b AS DOUBLE) * dl / avgdl))) AS BIGINT)) AS BIGINT)
          AS score_micro
      FROM __bm_tf JOIN __bm_idf USING (t) CROSS JOIN __bm_stats
      GROUP BY doc_id)
    SELECT doc_id, n_terms, score_micro,
      CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
        AS INTEGER) AS rank
    FROM __bm_scored
    QUALIFY rank <= $k"""
  }

  /** Weight buckets for the hashed linear classifier. */
  val HashClfBuckets: Int = 2048

  /** Quality score from a fixed LINEAR classifier over hashing-trick
    * bag-of-words features (the fastText-style architecture every
    * large-scale quality/toxicity filter deploys: featurize by token
    * hash, dot with a weight vector, threshold). The "trained" weight
    * vector here is the deterministic map bucket → bucket − k/2, so
    * the whole pipeline — tokenize, hash to [[HashClfBuckets]] buckets
    * via the engine-portable 56-bit MD5 ([[Sampling.hashBucket]]),
    * accumulate, normalize — is exactly replayable by a SQL oracle; a
    * real deployment swaps the weight map for learned values with zero
    * plan change. The accumulator is an INTEGER sum (order-independent,
    * no float drift); the only float op is the final normalization
    *   score = Σ(bucket − k/2) / ((k/2) · n_tokens) ∈ [−1, 1],
    * rounded to 6dp. Per-row, no shuffle, codegen-friendly.
    *
    * Returns a score column; NULL for empty token lists. */
  def hashClfScore(text: Column): Column = {
    val k = HashClfBuckets
    val toks = tokens(text)
    val sumW = aggregate(
      transform(toks, t => Sampling.hashBucket(t, k) - lit(k / 2)),
      lit(0L), (acc, x) => acc + x)
    when(size(toks) > 0,
      round(sumW.cast("double") / (lit(k / 2.0) * size(toks)), 6))
  }

  /** DuckDB expression recomputing [[hashClfScore]] of `textExpr`. */
  def hashClfScoreSql(textExpr: String): String = {
    val k = HashClfBuckets
    val toks = tokensSql(textExpr)
    s"""CASE WHEN len($toks) > 0 THEN
      ROUND(CAST(list_sum(list_transform($toks,
          t -> ${Sampling.hashBucketSql("t", k)} - ${k / 2})) AS DOUBLE)
        / (${k / 2}.0 * len($toks)), 6) END"""
  }

  /** Multi-merge BPE TRAINING (Sennrich et al. 2016) — `rounds`
    * successive merges, each the full algorithm: count adjacent token
    * pairs weighted by word frequency, pick the argmax pair (count
    * desc, pair lexicographic — a total tiebreak, so ties are
    * deterministic), merge every non-overlapping occurrence
    * greedy-leftmost, re-segment, repeat. Extends the single-step pair
    * statistics (`bpePairStats`) to the real training loop.
    *
    * Output: one row per merge — (merge_round, a, b, weight,
    * vocab_tokens, corpus_tokens) — the learned merge table plus the
    * compression trajectory (corpus_tokens = Σ freq·|segmentation|,
    * the corpus token count under the tokenizer-so-far, WITHOUT
    * touching the corpus again).
    *
    * Scale shape: the ONLY corpus-sized op is the word-frequency
    * groupBy. All per-round work — the pair count, the argmax, the
    * island-parity merge (overlapping matches like "aaaa" merge 1st,
    * 3rd, ... — greedy-leftmost as one window pass, no sequential
    * scan), the renumber — runs on the segmentation table of the
    * DISTINCT vocabulary, bounded by Σ word lengths regardless of
    * corpus size; windows partition by word, so state is bounded by
    * word length. Each round localCheckpoints the vocab-sized frame
    * (multi-consumer + iterative lineage). */
  def bpeTrain(df: DataFrame, text: Column, rounds: Int = 8): DataFrame =
    bpeLoop(df, text, rounds)._1

  /** The trained tokenizer's OUTPUT: the final per-word segmentation
    * table `(w, freq, idx, tok)` after `rounds` merges — the artifact
    * the inference path joins against (see x_text_bpe_apply). */
  def bpeSegments(df: DataFrame, text: Column, rounds: Int = 8): DataFrame =
    bpeLoop(df, text, rounds)._2

  private def bpeLoop(df: DataFrame, text: Column,
                      rounds: Int): (DataFrame, DataFrame) =
    // AQE off for the loop (Confs.withoutAqe rationale): every
    // per-round plan here is shape-known — vocab-bounded windows, one
    // tiny aggregate, an explicit 1-row broadcast — so AQE's levers
    // never fire, while its stage-by-stage query stages turn each
    // round's checkpoint into several scheduler jobs. The 8-round
    // train measured 68 single-task jobs, 1.8 s CPU under a ~6 s wall:
    // pure per-job floor (plans/r11/x_text_bpe_train_{before,after}.txt).
    Confs.withoutAqe(df.sparkSession) { bpeLoopBody(df, text, rounds) }

  private def bpeLoopBody(df: DataFrame, text: Column,
                      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 16, s"rounds in [1,16], got $rounds")
    import org.apache.spark.sql.expressions.Window
    val wWin = Window.partitionBy(col("w")).orderBy(col("idx"))
    val vocab = df.select(explode(tokens(text)).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var toks = vocab
      .select(col("w"), col("freq"), posexplode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as(Seq("i0", "tok")))
      .select(col("w"), col("freq"), (col("i0") + 1).cast("long").as("idx"),
        col("tok"))
      .localCheckpoint(true)
    var outs = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val withNext = toks.withColumn("nxt", lead(col("tok"), 1).over(wWin))
      val best = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("tok").as("a"), col("nxt").as("b"))
        .agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("a"), col("b")).limit(1)
        // pin the 1-row argmax: it has TWO consumers — this round's
        // merge broadcast and the training output row (`outs`). Left
        // lazy, the training emit re-ran the whole vocab-sized pair
        // count + top-1 PER ROUND at action time (the construction
        // already paid it once to build the round's checkpoint) —
        // the multi-consumer rule, at 1-row scale.
        .localCheckpoint(true)
      val m = withNext.crossJoin(broadcast(best))
        .withColumn("matched",
          (col("tok") === col("a") && col("nxt") === col("b")).cast("int"))
      val g = m
        .withColumn("mrn", sum(col("matched"))
          .over(wWin.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("grp", col("idx") - col("mrn"))
      val h = g
        .withColumn("minm", min(when(col("matched") === 1, col("idx")))
          .over(Window.partitionBy(col("w"), col("grp"))))
        .withColumn("head",
          (col("matched") === 1 && (col("idx") - col("minm")) % 2 === 0)
            .cast("int"))
      val merged = h
        .withColumn("prev_head", coalesce(lag(col("head"), 1).over(wWin), lit(0)))
        .filter(col("prev_head") === 0)
        .select(col("w"), col("freq"),
          row_number().over(wWin).cast("long").as("idx"),
          when(col("head") === 1, concat(col("tok"), col("b")))
            .otherwise(col("tok")).as("tok"))
      // EAGER, deliberately: the lazy-fuse variant (2ef007c precedent)
      // measured jobs 43→35 but wall 3.2→3.5 s and CPU 6.1→8.1 s —
      // the materializing consumer re-derives part of the round's
      // window chain, costing more than the fused job floor saves.
      // Measured-rejected; keep the eager form.
      toks = merged.localCheckpoint(true)
      val stats = toks.agg(count(lit(1)).as("vocab_tokens"),
        sum(col("freq")).as("corpus_tokens"))
      outs = outs :+ best.crossJoin(broadcast(stats))
        .select(lit(r).as("merge_round"), col("a"), col("b"), col("weight"),
          col("vocab_tokens"), col("corpus_tokens"))
    }
    (outs.reduce(_.unionByName(_)), toks)
  }

  /** DuckDB replay of [[bpeTrain]]; `srcCte` is a parenthesized
    * relation with a `text` column. Per-round CTE blocks mirror the
    * DataFrame loop op-for-op; multi-referenced CTEs are MATERIALIZED
    * so the 8-round chain doesn't re-derive. */
  def bpeTrainSql(srcCte: String, rounds: Int = 8): String =
    s"WITH ${bpeTrainCtes(srcCte, rounds)}\n    " +
      (1 to rounds).map(r => s"SELECT * FROM out$r")
        .mkString("\n    UNION ALL ")

  /** The CTE body shared by [[bpeTrainSql]] and the apply-path oracle:
    * defines `vocab`, `t1` … `t{rounds+1}` (segmentations) and
    * `out1` … `out{rounds}` (merge rows). */
  def bpeTrainCtes(srcCte: String, rounds: Int = 8): String = {
    val sb = new StringBuilder
    sb.append(s"""vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(${tokensSql("text")}) AS w FROM $srcCte)
      WHERE len(w) >= 1 GROUP BY 1),
    t1 AS MATERIALIZED (
      SELECT w, freq, CAST(u.i AS BIGINT) AS idx, substr(w, u.i, 1) AS tok
      FROM vocab, unnest(range(1, len(w) + 1)) AS u(i))""")
    for (r <- 1 to rounds) {
      sb.append(s""",
    p$r AS MATERIALIZED (
      SELECT a, b, weight FROM (
        SELECT tok AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS weight
        FROM (SELECT w, freq, tok,
                LEAD(tok) OVER (PARTITION BY w ORDER BY idx) AS nxt
              FROM t$r)
        WHERE nxt IS NOT NULL GROUP BY 1, 2)
      ORDER BY weight DESC, a, b LIMIT 1),
    m$r AS (
      SELECT x.w, x.freq, x.idx, x.tok,
        CASE WHEN x.tok = p.a
          AND LEAD(x.tok) OVER (PARTITION BY x.w ORDER BY x.idx) = p.b
          THEN 1 ELSE 0 END AS matched,
        p.b AS mb
      FROM t$r x CROSS JOIN p$r p),
    g$r AS (
      SELECT *, idx - SUM(matched) OVER (PARTITION BY w ORDER BY idx
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      FROM m$r),
    h$r AS (
      SELECT *, CASE WHEN matched = 1
          AND (idx - MIN(CASE WHEN matched = 1 THEN idx END)
            OVER (PARTITION BY w, grp)) % 2 = 0
        THEN 1 ELSE 0 END AS head
      FROM g$r),
    d$r AS (
      SELECT *, COALESCE(LAG(head) OVER (PARTITION BY w ORDER BY idx), 0)
        AS prev_head
      FROM h$r),
    t${r + 1} AS MATERIALIZED (
      SELECT w, freq,
        CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY idx) AS BIGINT) AS idx,
        CASE WHEN head = 1 THEN tok || mb ELSE tok END AS tok
      FROM d$r WHERE prev_head = 0),
    out$r AS (
      SELECT $r AS merge_round, a, b, weight,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM t${r + 1}) AS vocab_tokens,
        (SELECT CAST(SUM(freq) AS BIGINT) FROM t${r + 1}) AS corpus_tokens
      FROM p$r)""")
    }
    sb.toString
  }

  /** Default hash buckets of the Naive Bayes unigram LMs. */
  val NaiveBayesBuckets: Int = 1024

  /** Multinomial Naive Bayes language classifier over
    * `docs(doc_id, lang, text)` (text/lang non-null): docs with
    * doc_id % 5 ≠ 0 train per-class hashed-unigram LMs (`buckets` md5
    * buckets — the DSIR constant-size feature space), the held-out
    * fifth is classified by argmax_c [ln P(c) + Σ_tok ln P(b|c)] with
    * add-1 smoothing, and the emit is the confusion matrix
    * (lang, pred, n_docs). Fixed-point: each ln argument is a ratio
    * of exact integers, one ln, rounded to micro, so scores are exact
    * BIGINT sums and the argmax (tiebreak: smaller class) is
    * bit-deterministic. Scale shape: train counts bounded by C·B and
    * broadcast; test docs pre-aggregate to per-doc bucket counts so
    * the scored frame is docs×C, never tokens×C. */
  def naiveBayesConfusion(docs: DataFrame,
                          buckets: Int = NaiveBayesBuckets): DataFrame = {
    val base = docs.withColumn("is_train", col("doc_id") % 5 =!= 0)
    val toks = base.select(col("doc_id"), col("lang"), col("is_train"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("b", Sampling.hashBucket(col("tok"), buckets))
    val train = toks.filter(col("is_train"))
    val cbc = train.groupBy(col("lang").as("cls"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val ctot = train.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_tok"))
    val spark = docs.sparkSession
    val grid = ctot.crossJoin(broadcast(
      spark.range(buckets.toLong).select(col("id").as("b"))))
    val lp = grid.join(cbc, Seq("cls", "b"), "left")
      .select(col("cls"), col("b"), expr(
        s"""CAST(ROUND(LN(
           |  CAST(COALESCE(cnt, 0) + 1 AS DOUBLE)
           |  / CAST(n_tok + $buckets AS DOUBLE)
           |) * 1000000) AS BIGINT)""".stripMargin).as("lp_micro"))
    val nDocs = base.filter(col("is_train"))
      .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_docs"))
    val prior = nDocs
      .crossJoin(broadcast(nDocs.agg(sum(col("n_docs")).as("n_total"))))
      .select(col("cls"), expr(
        """CAST(ROUND(LN(CAST(n_docs AS DOUBLE)
          |  / CAST(n_total AS DOUBLE)) * 1000000) AS BIGINT)"""
          .stripMargin).as("prior_micro"))
    val dbc = toks.filter(!col("is_train"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val scored = dbc.join(broadcast(lp), "b")
      .groupBy(col("doc_id"), col("lang"), col("cls"))
      .agg(sum(col("c") * col("lp_micro")).as("ll_micro"))
      .join(broadcast(prior), "cls")
      .withColumn("score", col("ll_micro") + col("prior_micro"))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(min_by(col("cls"), struct(-col("score"), col("cls"))).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** DuckDB CTE chain recomputing [[naiveBayesConfusion]] at its
    * default [[NaiveBayesBuckets]] exactly; `srcCte` is a parenthesized
    * relation with (doc_id, lang, text). The last CTE, `__nb_conf`,
    * holds the (lang, pred, n_docs) rows. */
  def naiveBayesConfusionSql(srcCte: String): String =
    s"""__nb_docs AS (
        SELECT doc_id, lang, text, doc_id % 5 <> 0 AS is_train
        FROM $srcCte),
      __nb_toks AS (
        SELECT doc_id, lang, is_train,
          ${Sampling.hashBucketSql(
            s"unnest(${tokensSql("text")})", NaiveBayesBuckets)} AS b
        FROM __nb_docs),
      __nb_cbc AS (
        SELECT lang AS cls, b, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM __nb_toks WHERE is_train GROUP BY 1, 2),
      __nb_ctot AS (
        SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM __nb_toks WHERE is_train GROUP BY 1),
      __nb_grid AS (
        SELECT cls, n_tok, CAST(g.range AS BIGINT) AS b
        FROM __nb_ctot CROSS JOIN range($NaiveBayesBuckets) g),
      __nb_lp AS (
        SELECT cls, b, CAST(ROUND(LN(
            CAST(COALESCE(cnt, 0) + 1 AS DOUBLE)
            / CAST(n_tok + $NaiveBayesBuckets AS DOUBLE)) * 1000000)
            AS BIGINT) AS lp_micro
        FROM __nb_grid LEFT JOIN __nb_cbc USING (cls, b)),
      __nb_nd AS (
        SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM __nb_docs WHERE is_train GROUP BY 1),
      __nb_prior AS (
        SELECT cls, CAST(ROUND(LN(CAST(n_docs AS DOUBLE)
          / CAST((SELECT SUM(n_docs) FROM __nb_nd) AS DOUBLE)) * 1000000)
          AS BIGINT) AS prior_micro
        FROM __nb_nd),
      __nb_dbc AS (
        SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM __nb_toks WHERE NOT is_train GROUP BY 1, 2, 3),
      __nb_scored AS (
        SELECT doc_id, lang, cls,
          CAST(SUM(c * lp_micro) AS BIGINT) + ANY_VALUE(prior_micro)
            AS score
        FROM __nb_dbc JOIN __nb_lp USING (b) JOIN __nb_prior USING (cls)
        GROUP BY 1, 2, 3),
      __nb_pred AS (
        SELECT doc_id, lang, cls AS pred,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score DESC, cls) AS rn
        FROM __nb_scored),
      __nb_conf AS (
        SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM __nb_pred WHERE rn = 1 GROUP BY 1, 2)"""

  /** ROUGE-1/ROUGE-2 multiset n-gram overlap between adjacent-id
    * document pairs (candidate doc_id vs reference doc_id+1) over
    * `docs(doc_id, text)`: overlap = Σ_g min(count_cand, count_ref),
    * precision/recall/F1 from exact integer counts. Grams travel as
    * 56-bit md5 digests; the overlap join is keyed (pair, n, digest),
    * per-key width bounded by document length. */
  def rougeAdjacent(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      tokens(col("text")).as("t"))
    val uni = base.select(col("doc_id"), lit(1).as("n"),
      explode(col("t")).as("g"))
    val bi = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), lit(2).as("n"),
        explode(expr("transform(sequence(1, size(t) - 1)," +
          " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("g"))
    val cnts = uni.unionAll(bi)
      .select(col("doc_id"), col("n"), Sampling.hashValue(col("g")).as("h"))
      .groupBy(col("doc_id"), col("n"), col("h"))
      .agg(count(lit(1)).as("c"))
    val tot = cnts.groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("ntot"))
    val cand = cnts.select(col("doc_id").as("p"), col("n"), col("h"),
      col("c").as("cc"))
    val ref = cnts.select((col("doc_id") - 1).as("p"), col("n"), col("h"),
      col("c").as("rc"))
    val overlap = cand.join(ref, Seq("p", "n", "h"))
      .groupBy(col("p"), col("n"))
      .agg(sum(least(col("cc"), col("rc"))).as("overlap"))
    val candTot = tot.select(col("doc_id").as("p"), col("n"),
      col("ntot").as("n_cand"))
    val refTot = tot.select((col("doc_id") - 1).as("p"), col("n"),
      col("ntot").as("n_ref"))
    candTot.join(refTot, Seq("p", "n"))
      .join(overlap, Seq("p", "n"), "left")
      .withColumn("o", coalesce(col("overlap"), lit(0L)))
      .select(col("p").as("cand_id"), (col("p") + 1).as("ref_id"),
        col("n"), col("o").as("overlap"), col("n_cand"), col("n_ref"),
        round(col("o").cast("double") / col("n_cand").cast("double"), 6)
          .as("rouge_p"),
        round(col("o").cast("double") / col("n_ref").cast("double"), 6)
          .as("rouge_r"),
        round(lit(2.0) * col("o").cast("double")
          / (col("n_cand") + col("n_ref")).cast("double"), 6).as("rouge_f"))
  }
}
