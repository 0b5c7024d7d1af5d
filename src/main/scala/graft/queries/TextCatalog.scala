package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Dirs

import QueryDef._
import graft.text.{Bpe, TextAnalysis}

/** Text-analysis twins over the `documents` table: token counting, quality
  * scoring, language ID, fingerprinting (builder brief: training-data
  * pipeline operators as first-class catalog entries).
  *
  * DuckDB dialect notes: regexp_replace needs the 'g' flag (Spark replaces
  * globally by default); both engines use leftmost-first alternation, and
  * both count non-overlapping regexp_extract_all matches.
  */
object TextCatalog {

  // collapse-then-trim, mirroring TextAnalysis.normText (both engines'
  // trim strips only ' ', so the order is load-bearing for \t/\n edges)
  private val sqlNorm = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"

  /** DuckDB twin of TextAnalysis.wsTokenCount: string_split('') yields ['']
    * (len 1), while the Spark side pins empty text to 0 — mirror the guard
    * so the engines agree on empty/whitespace-only documents too.
    */
  private val sqlWsTokens =
    s"CASE WHEN length($sqlNorm) = 0 THEN 0 ELSE len(string_split($sqlNorm, ' ')) END"

  val tQuality = QueryDef(
    "q_t_quality",
    (s, dir) =>
      TextAnalysis.withQuality(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"),
          r6(col("mean_token_len")).as("mean_token_len"),
          r6(col("punct_ratio")).as("punct_ratio"),
          r6(col("stopword_ratio")).as("stopword_ratio"))
        .orderBy("doc_id"),
    Some(s"""
      WITH b AS (
        SELECT doc_id, $sqlNorm AS nt,
               $sqlWsTokens AS n_tokens
        FROM documents)
      SELECT doc_id, CAST(length(nt) AS BIGINT) AS n_chars_calc,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             ${sqlR6("length(replace(nt, ' ', '')) / CAST(n_tokens AS DOUBLE)")} AS mean_token_len,
             ${sqlR6("length(regexp_replace(nt, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(nt) AS DOUBLE)")} AS punct_ratio,
             ${sqlR6(TextAnalysis.Stopwords.map(w =>
      s"len(regexp_extract_all(' ' || lower(nt) || ' ', ' $w ', 0))")
      .mkString("(", " + ", ") / CAST(n_tokens AS DOUBLE)"))} AS stopword_ratio
      FROM b ORDER BY doc_id""")
  )

  val tTokens = QueryDef(
    "q_t_tokens",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.subwordCount(col("text")).as("subword_tokens"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             CAST($sqlWsTokens AS BIGINT) AS ws_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS BIGINT) AS subword_tokens
      FROM documents ORDER BY doc_id""")
  )

  val tFingerprint = QueryDef(
    "q_t_fingerprint",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some(s"SELECT doc_id, md5($sqlNorm) AS fp FROM documents ORDER BY doc_id")
  )

  val tLangId = QueryDef(
    "q_t_langid",
    (s, dir) =>
      TextAnalysis.withLangId(t(s, dir, "documents"))
        .select("doc_id", "lang", "lang_pred")
        .orderBy("doc_id"),
    Some {
      val langs = TextAnalysis.LangMarkers.keys.toSeq.sorted
      def score(l: String) = TextAnalysis.LangMarkers(l).map(w =>
        s"len(regexp_extract_all(' ' || lower($sqlNorm) || ' ', ' $w ', 0))")
        .mkString(" + ")
      val scoreCols = langs.map(l => s"(${score(l)}) AS s_$l").mkString(", ")
      val caseChain = langs.map(l =>
        s"WHEN ${langs.map(o => s"s_$l >= s_$o").mkString(" AND ")} THEN '$l'")
        .mkString(" ")
      s"""
      WITH s AS (SELECT doc_id, lang, $scoreCols FROM documents)
      SELECT doc_id, lang, CASE $caseChain END AS lang_pred
      FROM s ORDER BY doc_id"""
    }
  )

  /** Generator/UDTF surface (SURVEY §2.11 notes the reference has none —
    * capability headroom): positional token explosion, one row per token.
    */
  val tExplode = QueryDef(
    "q_t_posexplode",
    (s, dir) =>
      t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(split(TextAnalysis.normText(col("text")), " "))
            .as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split($sqlNorm, ' ') AS tk
        FROM documents WHERE doc_id < 50)
      SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos,
             unnest(tk) AS token
      FROM t ORDER BY doc_id, pos""")
  )

  /** Repetition signals (Gopher-rule family): the oracle rebuilds the
    * non-distinct 1/2/3-gram instance table with positional self-joins,
    * counts per (doc, n, gram), and derives the same three ratios. All
    * ratios are exact rationals (long/long division), so r6 rounding is
    * bit-stable across engines.
    */
  val tRepetition = QueryDef(
    "q_t_repetition",
    (s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          r6(col("distinct_token_ratio")).as("distinct_token_ratio"),
          r6(col("top_bigram_ratio")).as("top_bigram_ratio"),
          r6(col("dup_trigram_ratio")).as("dup_trigram_ratio"))
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split($sqlNorm, ' ') AS tk
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM t),
      g AS (
        SELECT doc_id, 1 AS n, w AS gram FROM tok
        UNION ALL
        SELECT a.doc_id, 2, a.w || ' ' || b.w
        FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        UNION ALL
        SELECT a.doc_id, 3, a.w || ' ' || b.w || ' ' || c.w
        FROM tok a
        JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      cnt AS (
        SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
      per AS (
        SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS topc,
               coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup
        FROM cnt GROUP BY 1, 2),
      sig AS (
        SELECT doc_id,
               max(CASE WHEN n = 1 THEN dist / CAST(total AS DOUBLE) END) AS dtr,
               max(CASE WHEN n = 2 THEN topc / CAST(total AS DOUBLE) END) AS tbr,
               max(CASE WHEN n = 3 THEN dup / CAST(total AS DOUBLE) END) AS dgr
        FROM per GROUP BY 1)
      SELECT d.doc_id, ${sqlR6("dtr")} AS distinct_token_ratio,
             ${sqlR6("tbr")} AS top_bigram_ratio,
             ${sqlR6("dgr")} AS dup_trigram_ratio
      FROM documents d LEFT JOIN sig ON sig.doc_id = d.doc_id
      ORDER BY d.doc_id""")
  )

  /** Corpus unigram-LM scoring (CCNet-style perplexity filtering, LM =
    * the corpus's own add-one-smoothed unigram model). The per-doc mean
    * log-prob goes through exact decimal summation in both engines, so
    * only the per-token ln() ulp differs — far below the r6 granularity.
    */
  val tLmScore = QueryDef(
    "q_t_lm_score",
    (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          r6(col("lm_logprob")).as("lm_logprob"),
          col("n_tokens_scored"))
        .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM t),
      cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
      st AS (SELECT sum(c) AS nn, count(*) AS vv FROM cnt),
      lp AS (
        SELECT tok.doc_id, ln((c + 1) / CAST(nn + vv AS DOUBLE)) AS lp
        FROM tok JOIN cnt USING (w) CROSS JOIN st),
      per AS (
        SELECT doc_id, ${sqlAvgE18("lp")} AS lm_logprob,
               count(*) AS n_tokens_scored
        FROM lp GROUP BY 1)
      SELECT d.doc_id, ${sqlR6("lm_logprob")} AS lm_logprob,
             CAST(n_tokens_scored AS BIGINT) AS n_tokens_scored
      FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      ORDER BY d.doc_id""")
  )

  // md5-prefix hash bucket, the engine-portable deterministic sampler —
  // Spark's conv(hex,16,10) and DuckDB's '0x'-cast agree on the unsigned
  // 60-bit value, so both engines assign identical buckets
  private def sqlBucket(m: Int) =
    s"CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % $m"

  /** Deterministic train/val/test split (80/10/10 by md5 bucket) — split
    * membership is content-addressed, so it survives re-runs,
    * repartitioning, and engine migration.
    */
  val tSplit = QueryDef(
    "q_t_split",
    (s, dir) =>
      TextAnalysis.withSplit(t(s, dir, "documents"), "doc_id")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, ${sqlBucket(100)} AS bucket,
             CASE WHEN ${sqlBucket(100)} < 80 THEN 'train'
                  WHEN ${sqlBucket(100)} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id""")
  )

  // per-language keep-rates (per-mille) for the stratified sample twin:
  // downsample the dominant languages, keep the tail — corpus rebalancing
  private val StratRates = Map("en" -> 250, "es" -> 500)
  private val StratDefault = 800

  /** Stratified deterministic sample over the real `lang` column —
    * one shuffle-free codegen'd scan, per-stratum rates as data.
    */
  val tStratSample = QueryDef(
    "q_t_strat_sample",
    (s, dir) =>
      TextAnalysis.stratifiedSample(t(s, dir, "documents"), "doc_id",
          "lang", StratRates, StratDefault)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.hashBucket(col("doc_id"), 1000).as("bucket"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, lang, ${sqlBucket(1000)} AS bucket
      FROM documents
      WHERE ${sqlBucket(1000)} <
            CASE ${StratRates.toSeq.sortBy(_._1).map { case (l, r) =>
      s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
                 ELSE $StratDefault END
      ORDER BY doc_id""")
  )

  /** Top-5 characteristic terms per document by corpus tf-idf; ranking
    * ties (identical rationals) break by term ascending in both engines.
    */
  val tTfIdf = QueryDef(
    "q_t_tfidf",
    (s, dir) =>
      TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text",
          k = 5)
        .select(col("id").as("doc_id"), col("rnk"), col("term"),
          r6(col("tfidf")).as("tfidf"))
        .orderBy("doc_id", "rnk"),
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM t),
      tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      tot AS (SELECT doc_id, sum(c) AS total FROM tf GROUP BY 1),
      dfq AS (SELECT w, count(*) AS dfc FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      scored AS (
        SELECT tf.doc_id, tf.w,
               (c / CAST(total AS DOUBLE)) * ln(n / CAST(dfc AS DOUBLE)) AS tfidf
        FROM tf JOIN tot USING (doc_id) JOIN dfq USING (w) CROSS JOIN n),
      rk AS (
        SELECT doc_id, w, tfidf,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, w ASC) AS rnk
        FROM scored)
      SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, w AS term,
             ${sqlR6("tfidf")} AS tfidf
      FROM rk WHERE rnk <= 5 ORDER BY doc_id, rnk""")
  )

  /** Top-20 corpus bigram collocations by PMI (min count 5) — phrase
    * mining over the whole corpus, reduced to count shuffles + two
    * broadcast totals.
    */
  val tPmi = QueryDef(
    "q_t_pmi",
    (s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
          minCount = 5, k = 20)
        .select(col("w1"), col("w2"), col("c12"), r6(col("pmi")).as("pmi")),
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS tk FROM t)),
      uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
      nu AS (SELECT sum(c) AS nu FROM uni),
      pairs AS (
        SELECT a.w AS w1, b.w AS w2
        FROM tok a JOIN tok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      bigall AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
      nb AS (SELECT sum(c12) AS nb FROM bigall),
      scored AS (
        SELECT w1, w2, c12,
               ln((CAST(c12 AS DOUBLE) / nb.nb) /
                  ((CAST(u1.c AS DOUBLE) / nu.nu) *
                   (CAST(u2.c AS DOUBLE) / nu.nu))) AS pmi
        FROM bigall
        JOIN uni u1 ON u1.w = bigall.w1
        JOIN uni u2 ON u2.w = bigall.w2
        CROSS JOIN nb CROSS JOIN nu
        WHERE c12 >= 5)
      SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, ${sqlR6("pmi")} AS pmi
      FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20""")
  )

  // appended to docs 0–49 in BOTH engines so the PII gate has real hits
  // (the synthetic corpus contains none) — single-quoted verbatim in SQL
  private val PiiTail =
    " contact me at jane.doe@example.com or https://example.com/u?id=9 " +
      "or +1 (415) 555-0101"

  /** PII detection + reproducible scrubbing over a corpus with planted
    * PII. The scrub equality is gated via md5 of the scrubbed text (both
    * engines replay the same URL→email→phone replacement order), so the
    * redaction itself is hash-checked byte-for-byte, not just counted.
    */
  val tPii = QueryDef(
    "q_t_pii",
    (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val planted = d.unionByName(
        d.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(PiiTail)).as("text")))
      TextAnalysis.withPiiSignals(planted)
        .select(col("doc_id"), col("n_emails"), col("n_urls"),
          col("n_phones"),
          md5(TextAnalysis.scrubPii(col("text"))).as("scrubbed_fp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH planted AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || '$PiiTail' FROM documents
        WHERE doc_id < 50)
      , cascade AS (
        SELECT doc_id, text,
               regexp_replace(text, '${TextAnalysis.UrlRe}', '[URL]', 'g') AS no_url
        FROM planted),
      cascade2 AS (
        SELECT *, regexp_replace(no_url, '${TextAnalysis.EmailRe}', '[EMAIL]', 'g') AS no_email
        FROM cascade)
      SELECT doc_id,
             CAST(len(regexp_extract_all(no_url, '${TextAnalysis.EmailRe}', 0)) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.UrlRe}', 0)) AS BIGINT) AS n_urls,
             CAST(len(regexp_extract_all(no_email, '${TextAnalysis.PhoneRe}', 0)) AS BIGINT) AS n_phones,
             md5(regexp_replace(no_email,
               '${TextAnalysis.PhoneRe}', '[PHONE]', 'g')) AS scrubbed_fp
      FROM cascade2 ORDER BY doc_id""")
  )

  /** Corpus vocabulary head: top-100 tokens by frequency (exact integer
    * ordering, ties by token) — the Zipf-head table a tokenizer/mixture
    * audit starts from.
    */
  val tVocab = QueryDef(
    "q_t_vocab",
    (s, dir) =>
      t(s, dir, "documents")
        .select(lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(explode(split(col("nt"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("w"))
        .limit(100),
    Some(s"""
      WITH t AS (
        SELECT lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      tok AS (SELECT unnest(string_split(nt, ' ')) AS w FROM t)
      SELECT w, count(*) AS c FROM tok GROUP BY 1
      ORDER BY c DESC, w LIMIT 100""")
  )

  /** Corpus composition: per (source, lang) document and token counts
    * plus each cell's share of total tokens — the mixture-weights table a
    * pretraining data recipe starts from. One aggregate shuffle + a
    * broadcast 1-row total; the share is an exact long/long rational.
    */
  val tComposition = QueryDef(
    "q_t_composition",
    (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextAnalysis.wsTokenCount(col("text")).as("tk"))
      val cells = d.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("tk").as("n_tokens"))
      val total = cells.agg(sum("n_tokens").as("tot"))
      cells.crossJoin(broadcast(total))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          r6(col("n_tokens").cast("double") / col("tot")).as("token_share"))
        .orderBy("source", "lang")
    },
    Some(s"""
      WITH cells AS (
        SELECT source, lang, count(*) AS n_docs,
               sum($sqlWsTokens) AS n_tokens
        FROM documents GROUP BY 1, 2),
      total AS (SELECT sum(n_tokens) AS tot FROM cells)
      SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
             ${sqlR6("CAST(n_tokens AS DOUBLE) / tot")} AS token_share
      FROM cells CROSS JOIN total
      ORDER BY source, lang""")
  )

  /** Temperature-based mixture re-weighting (α = 1/2): the data-recipe
    * step that flattens a source distribution before sampling —
    * w_i ∝ p_i^α, the standard temperature trick (multilingual/LLM
    * pretraining mixtures). α = 1/2 makes the re-weight an IEEE sqrt
    * (exactly-rounded per the standard — no exp/ln portability risk);
    * the ≤|sources| weight terms are decimal-accumulated before the one
    * normalizing division, `up_factor = q_i/p_i` is the sampling
    * multiplier a downstream sampler applies. One aggregation shuffle +
    * a broadcast 1-row total.
    */
  val tMixture = QueryDef(
    "q_t_mixture",
    (s, dir) => {
      val cells = t(s, dir, "documents")
        .select(col("source"), TextAnalysis.wsTokenCount(col("text")).as("tk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tk").as("n_tokens"))
      val total = cells.agg(sum("n_tokens").as("tot"),
        sum(sqrt(col("n_tokens").cast("double")).cast("decimal(38,18)"))
          .cast("double").as("wsum_scaled"))
      // w_i = sqrt(p_i) = sqrt(tokens_i)/sqrt(tot): normalize with the
      // decimal-accumulated Σsqrt(tokens) — the sqrt(tot) factor cancels
      val p = col("n_tokens").cast("double") / col("tot").cast("double")
      val q = sqrt(col("n_tokens").cast("double")) / col("wsum_scaled")
      cells.crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          r6(p).as("token_share"),
          r6(q).as("mix_weight"),
          r6(q / p).as("up_factor"))
        .orderBy("source")
    },
    Some(s"""
      WITH cells AS (
        SELECT source, count(*) AS n_docs, sum($sqlWsTokens) AS n_tokens
        FROM documents GROUP BY 1),
      total AS (
        SELECT sum(n_tokens) AS tot,
               CAST(sum(CAST(sqrt(CAST(n_tokens AS DOUBLE))
                 AS DECIMAL(38,18))) AS DOUBLE) AS wsum_scaled
        FROM cells)
      SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
             ${sqlR6("CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)")}
               AS token_share,
             ${sqlR6("sqrt(CAST(n_tokens AS DOUBLE)) / wsum_scaled")}
               AS mix_weight,
             ${sqlR6("""(sqrt(CAST(n_tokens AS DOUBLE)) / wsum_scaled)
               / (CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))""")}
               AS up_factor
      FROM cells CROSS JOIN total
      ORDER BY source""")
  )

  /** Sequence packing (text.Packing): documents laid end-to-end in doc_id
    * order, cut into 2048-token bins by the exclusive running sum
    * (contiguous fill — see Packing's Scaladoc for why the associative
    * formulation is the distributable one). The running sum runs through
    * SequenceOps.runningSum (range-partitioned, NO single-task global
    * window); the oracle is the plain window cumsum, proving the stitched
    * distributed sum equals the sequential one.
    */
  val tPack = QueryDef(
    "q_t_pack",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("toks"))
      graft.text.Packing.contiguousBins(docs, "doc_id", "toks", 2048L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("bin")
    },
    Some(s"""
      WITH tk AS (
        SELECT doc_id, CAST($sqlWsTokens AS BIGINT) AS toks
        FROM documents),
      c AS (
        -- DuckDB widens the window sum to HUGEINT; cast back so `bin`
        -- lands as BIGINT like the Spark side
        SELECT doc_id, toks,
               CAST(sum(toks) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM tk)
      SELECT (cum - toks) // 2048 AS bin, count(*) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY 1 ORDER BY 1""")
  )

  /** Epoch shuffle (TextAnalysis.epochShuffle): deterministic global
    * permutation for seed 1, positions assigned by the range-partitioned
    * distributed row_number. The oracle is the sequential window
    * row_number over the same md5 order — proving the stitched global
    * positions equal the single-task ones.
    */
  val tShuffle = QueryDef(
    "q_t_shuffle",
    (s, dir) =>
      TextAnalysis.epochShuffle(
          t(s, dir, "documents").select("doc_id"), "doc_id", seed = 1)
        .select(col("doc_id"), col("pos"))
        .orderBy("pos"),
    Some("""
      SELECT doc_id,
             row_number() OVER (ORDER BY md5('e1:' || doc_id), doc_id) AS pos
      FROM documents ORDER BY pos""")
  )

  /** Benchmark decontamination: treat every doc_id ≡ 0 (mod 97) as the
    * held-out eval set, and report each remaining document's distinct
    * 5-gram overlap with it. The oracle rebuilds both gram sets with
    * DuckDB list slicing (`tk[i:i+4]` over `unnest(range(...))` — 1-based
    * inclusive, mirroring Spark's `slice(tk, i+1, 5)` over
    * `sequence(0, size-5)`) and replays the left join + counts; the
    * contamination ratio is an exact rational, so r6 is bit-stable.
    */
  val tDecontaminate = QueryDef(
    "q_t_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Decontaminate.overlapReport(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          r6(col("contamination")).as("contamination"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, string_split(lower($sqlNorm), ' ') AS tk
        FROM documents),
      g AS (
        SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS gram
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk)-5+2)) AS i
              FROM tok WHERE len(tk) >= 5)),
      cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
      bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
      SELECT cg.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(coalesce(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS n_hit,
             ${sqlR6("coalesce(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 END), 0) / CAST(count(*) AS DOUBLE)")}
               AS contamination
      FROM cg LEFT JOIN bg USING (gram)
      GROUP BY cg.doc_id ORDER BY cg.doc_id""")
  )

  /** Corpus-level line dedup (CCNet paragraph-dedup shape): first corpus
    * occurrence of every normalized line survives, documents are
    * reassembled from survivors and gated byte-for-byte via md5. The
    * oracle picks keepers with a row_number window over (doc_id, pos) —
    * same total order as the Spark side's min(struct) keeper (0- vs
    * 1-based positions are both monotone in document order, so the argmin
    * agrees) — and string_agg(... ORDER BY pos) mirrors the sorted
    * collect_list reassembly exactly.
    */
  val tLineDedup = QueryDef(
    "q_t_line_dedup",
    (s, dir) =>
      graft.text.LineDedup.dedupReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""
      WITH l0 AS (
        SELECT doc_id, generate_subscripts(p, 1) AS pos, trim(unnest(p)) AS line
        FROM (SELECT doc_id, string_split(text, '.') AS p FROM documents)),
      l AS (
        SELECT doc_id, pos, line FROM l0 WHERE length(line) > 0),
      k AS (
        SELECT doc_id, pos, line,
               row_number() OVER (PARTITION BY md5(line)
                                  ORDER BY doc_id, pos) AS rn
        FROM l),
      ka AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               md5(string_agg(line, '. ' ORDER BY pos)) AS text_md5
        FROM k WHERE rn = 1 GROUP BY doc_id),
      tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        FROM l GROUP BY doc_id)
      SELECT tot.doc_id, tot.n_lines,
             coalesce(ka.n_kept, 0) AS n_kept,
             coalesce(ka.text_md5, md5('')) AS text_md5
      FROM tot LEFT JOIN ka USING (doc_id)
      ORDER BY tot.doc_id""")
  )

  /** BM25 ranked retrieval for a fixed 3-term query (k1=1.2, b=0.75,
    * top-15). The oracle mirrors the exact arithmetic expression order
    * (per-term double product, DECIMAL per-doc sum, floor-round ranking
    * key), so only `ln` differs at the ulp level — absorbed by r6, which
    * is also the RANKING key in both engines (raw-double ranking could
    * flip near-ties across engines).
    */
  // the fixed probe every BM25 gate (in-query, persisted, appended) runs
  private val Bm25Terms = Seq("join", "vector", "stream")
  private val Bm25K = 15

  /** Shared by q_t_bm25, q_t_bm25_persist, and q_t_bm25_append: the
    * persisted-index probes are bit-identical to the in-query path over
    * the same corpus (integer tf/dl/df/stats round-trip parquet exactly
    * and all three paths score through Bm25.rankTopK), so one DuckDB
    * recompute over the full `documents` table gates them all — for the
    * append gate that means the oracle independently verifies that
    * base-build + batch-append reconstructs the FULL corpus's ranking.
    */
  private def bm25OracleSql(docWhere: String = ""): String = s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt
        FROM documents WHERE length($sqlNorm) > 0$docWhere),
      tok AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM t),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(dl) AS BIGINT) AS total_dl FROM dl),
      tf AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE w IN (${Bm25Terms.map(w => s"'$w'").mkString(", ")})
        GROUP BY 1, 2),
      dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS dfc FROM tf GROUP BY 1),
      sc AS (
        SELECT tf.doc_id,
               ln((st.n_docs - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                      / (CAST(st.total_dl AS DOUBLE) / st.n_docs))) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN st),
      agg AS (
        SELECT doc_id,
               floor(CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE)*1e6+0.5)/1e6
                 AS score
        FROM sc GROUP BY 1),
      rk AS (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM agg)
      SELECT CAST(rank AS BIGINT) AS rank, doc_id, score
      FROM rk WHERE rank <= $Bm25K ORDER BY rank"""

  val tBm25 = QueryDef(
    "q_t_bm25",
    (s, dir) =>
      graft.text.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          Bm25Terms, k = Bm25K)
        .orderBy("rank"),
    Some(bm25OracleSql())
  )

  /** PERSISTED-postings-index lifecycle gate — the lexical-retrieval twin
    * of q_s_ivf_persist: build the term-bucket-partitioned inverted index
    * ONCE (postings + 1-row corpus stats written as parquet), then answer
    * the q_t_bm25 probe from a COLD read of the persisted artifact with no
    * access to the corpus text. The probe-only read is partition-PRUNED:
    * `tb` is a parquet partition column, so a |q|-term query scans at most
    * |q| of the index's bucket directories — at 1000-executor scale a
    * probe reads a handful of postings files off object storage instead of
    * re-tokenizing 100 TB of text (build cost is paid once and amortized;
    * PostingsIndexSpec measures the split). Results are bit-identical to
    * the in-query q_t_bm25 — integer tf/dl/df/stats round-trip parquet
    * exactly and both paths score through Bm25.rankTopK — so the same
    * DuckDB oracle gates both.
    */
  val tBm25Persist = QueryDef(
    "q_t_bm25_persist",
    (s, dir) => {
      import graft.text.PostingsIndex
      Dirs.scratch("graft_bm25_persist") { stage =>
        PostingsIndex.write(t(s, dir, "documents"), "doc_id", "text",
          nBuckets = 16, stage.toString)
        PostingsIndex.probe(s, stage.toString, Bm25Terms, "doc_id",
            k = Bm25K)
          .orderBy("rank")
          // materialize before the persisted index is deleted below
          .localCheckpoint(true)
      }
    },
    Some(bm25OracleSql())
  )

  /** INDEX-APPEND + COMPACTION lifecycle gate for the postings index (the
    * daily-ingest path of a growing text corpus): a third of the documents
    * (doc_id % 3 == 0) is withheld from the build — the index is persisted
    * on the other two thirds, the withheld batch is APPENDED (its postings
    * land as new files in the existing bucket dirs; the 1-row stats table
    * advances by the batch's own counts — ingest ∝ batch, never corpus),
    * the fragmented buckets are COMPACTED back to one file each, and the
    * probe answers from the maintained index. The oracle recomputes BM25
    * over the FULL corpus, so it independently verifies that
    * base-build + append + compact reconstructs the exact full-corpus
    * ranking — any error in bucket routing, the stats arithmetic, or
    * compaction's rewrite flips the hash.
    */
  val tBm25Append = QueryDef(
    "q_t_bm25_append",
    (s, dir) => {
      import graft.text.PostingsIndex
      val docs = t(s, dir, "documents")
      val isDelta = pmod(col("doc_id"), lit(3)) === 0
      Dirs.scratch("graft_bm25_append") { stage =>
        PostingsIndex.write(docs.filter(!isDelta), "doc_id", "text",
          nBuckets = 16, stage.toString)
        PostingsIndex.append(s, stage.toString, docs.filter(isDelta),
          "doc_id", "text")
        // the append must actually have fragmented something, or the
        // compaction leg silently degenerates to a no-op
        val compacted = PostingsIndex.compact(s, stage.toString)
        require(compacted > 0, "append left no fragmented buckets")
        PostingsIndex.probe(s, stage.toString, Bm25Terms, "doc_id",
            k = Bm25K)
          .orderBy("rank")
          .localCheckpoint(true)
      }
    },
    Some(bm25OracleSql())
  )

  /** INDEX-DELETE lifecycle gate for the postings index — the GDPR leg
    * (build / probe / append / compact / DELETE completes the family): a
    * seventh of the documents (doc_id % 7 == 0) is tombstoned out of the
    * full-corpus index — only the buckets holding their postings are
    * rewritten (partition-local anti-join swap) and the 1-row stats table
    * is decremented by exactly the deleted documents' counts, so the next
    * probe's idf/avgdl reflect the post-delete corpus. The oracle
    * recomputes BM25 over `documents` MINUS the tombstoned slice, so a
    * row the vacuum wrongly kept (a deleted doc still ranked), wrongly
    * dropped, or a stale statistic (every score depends on n_docs/df)
    * flips the hash.
    */
  val tBm25Delete = QueryDef(
    "q_t_bm25_delete",
    (s, dir) => {
      import graft.text.PostingsIndex
      val docs = t(s, dir, "documents")
      Dirs.scratch("graft_bm25_delete") { stage =>
        PostingsIndex.write(docs, "doc_id", "text", nBuckets = 16,
          stage.toString)
        val purged = PostingsIndex.delete(s, stage.toString,
          docs.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
        require(purged > 0, "tombstone batch purged nothing")
        PostingsIndex.probe(s, stage.toString, Bm25Terms, "doc_id",
            k = Bm25K)
          .orderBy("rank")
          .localCheckpoint(true)
      }
    },
    Some(bm25OracleSql(" AND doc_id % 7 <> 0"))
  )

  /** OPTIMISTIC-CONCURRENCY maintenance for the SIDECAR-carrying postings
    * family (r17, verdict order #3): BM25 was the one persisted family
    * that could not race two maintenance writers — its 1-row corpus stats
    * rode a parquet sidecar, and the marker-body commit had no sidecar
    * channel. Now commitManifestsCas serializes the stats INTO the CAS
    * marker body alongside the manifest, so {postings pointer
    * set, corpus statistics, commit point} are ONE atomic object — a
    * probe can never score one version's postings with another's
    * idf/avgdl, even mid-race. The gate replays q_s_ivf_occ_maint's
    * protocol on the postings index: a compactor and a GDPR delete both
    * stage against version 2 (writer-unique generations), race the
    * version-3 CAS (compactor wins carrying the UNCHANGED stats; the
    * loser's rejected commit carried its decremented stats — the exact
    * divergence a replace-marker would have silently installed), and the
    * delete retries from the winner's snapshot with a RE-READ stats
    * decrement as version 4. The probe answers from v4 and must equal
    * the delete-only oracle replay (compaction is logically inert);
    * `stats_consistent` pins that the marker-body stats equal an
    * independent recompute from the live postings.
    */
  val tBm25OccMaint = QueryDef(
    "q_t_bm25_occ_maint",
    (s, dir) => {
      import graft.text.PostingsIndex
      import graft.sources.ManifestedPartitions
      val docs = t(s, dir, "documents")
      val isDelta = pmod(col("doc_id"), lit(3)) === 0
      Dirs.scratch("graft_bm25_occ") { stage =>
        val root = stage.toString
        PostingsIndex.write(docs.filter(!isDelta), "doc_id", "text",
          nBuckets = 16, root) // v1
        PostingsIndex.append(s, root, docs.filter(isDelta),
          "doc_id", "text") // v2 — fragments the buckets
        // writer 1 (compactor) and writer 2 (GDPR delete) both read v2
        val frag = ManifestedPartitions.fragmentedParts(
          s, root, "postings", "tb")
        require(frag.nonEmpty, "append left no fragmented buckets")
        val st2 = PostingsIndex.readStats(s, root, Some(2L))
        val ts = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
          .select("doc_id").distinct().localCheckpoint(true)
        def deadAt(v: Long) = ManifestedPartitions.read(s, root,
            "postings", "tb",
            ManifestedPartitions.readEntries(s, root, "postings", v))
          .select("id", "tb", "dl")
          .join(broadcast(ts), col("id") === col("doc_id"))
          .localCheckpoint(true)
        val dead2 = deadAt(2L)
        val affected2 = dead2.select("tb").distinct()
          .collect().map(_.getInt(0)).toSeq
        require(affected2.nonEmpty, "tombstones hit no bucket")
        val anti = (df: DataFrame) =>
          df.join(broadcast(ts), df("id") === ts("doc_id"), "left_anti")
        // both stage against snapshot v2, writer-unique generations
        val w1 = ManifestedPartitions.stageRewriteAt(s, root, "postings",
          "tb", frag, identity, snapshotV = 2L, gen = 101L)
        val w2 = ManifestedPartitions.stageRewriteAt(s, root, "postings",
          "tb", affected2, anti, snapshotV = 2L, gen = 102L)
        // the race: the compactor's CAS wins version 3 (stats carried
        // unchanged IN the marker body); the delete's commit — carrying
        // its decremented stats — is rejected
        val w1Won = ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("postings" -> w1),
          sidecarScalars = Map("stats" -> PostingsIndex.statsScalars(st2)))
        val w2Lost = !ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("postings" -> w2),
          sidecarScalars = Map("stats" -> PostingsIndex.statsScalars(
            PostingsIndex.decrementStats(st2, dead2))))
        // loser retries: re-read stats AND re-discover on the WINNER's
        // snapshot (the compaction moved its rows to a new generation)
        val st3 = PostingsIndex.readStats(s, root, Some(3L))
        val dead3 = deadAt(3L)
        val affected3 = dead3.select("tb").distinct()
          .collect().map(_.getInt(0)).toSeq
        val w2r = ManifestedPartitions.stageRewriteAt(s, root, "postings",
          "tb", affected3, anti, snapshotV = 3L, gen = 103L)
        val w2Won = ManifestedPartitions.commitManifestsCas(s, root, 4L,
          Map("postings" -> w2r),
          sidecarScalars = Map("stats" -> PostingsIndex.statsScalars(
            PostingsIndex.decrementStats(st3, dead3))))
        require(w1Won && w2Lost && w2Won, "OCC race did not serialize")
        val compactionSurvived = ManifestedPartitions.fragmentedParts(
          s, root, "postings", "tb").isEmpty
        // the committed marker-body stats equal an INDEPENDENT recompute
        // from the live postings — manifest and sidecar cannot diverge
        val live = ManifestedPartitions.readLatest(s, root, "postings", "tb")
          .groupBy("id").agg(min("dl").as("dl"))
          .agg(count(lit(1)).as("nd"),
            coalesce(sum("dl"), lit(0L)).as("tdl"))
          .collect()(0)
        val st4 = PostingsIndex.readStats(s, root)
        val statsConsistent = st4.nDocs == live.getLong(0) &&
          st4.totalDl == live.getLong(1)
        PostingsIndex.probe(s, root, Bm25Terms, "doc_id", k = Bm25K)
          .withColumn("conflict_detected", lit(w1Won && w2Lost && w2Won))
          .withColumn("compaction_survived", lit(compactionSurvived))
          .withColumn("stats_consistent", lit(statsConsistent))
          .orderBy("rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT r.*, TRUE AS conflict_detected, TRUE AS compaction_survived,
             TRUE AS stats_consistent
      FROM (${bm25OracleSql(" AND doc_id % 7 <> 0")}) r
      ORDER BY rank""")
  )

  /** STREAMING INGEST into the persisted postings index (r17 order #5;
    * protocol reworked r18) — completing the {IVF index, funnel MV,
    * postings index} × streaming matrix: a third of the documents
    * arrives as a stream of three mtime-pinned slices
    * (maxFilesPerTrigger=1) and each micro-batch lands through
    * PostingsIndex.ingestBatch, LEDGER-KEYED exactly-once like the
    * funnel MV's (the r17 batch-keyed appendAt derived versions from the
    * batchId and replace-committed, which silently clobbered any
    * interleaved maintenance commit — ADVICE r17): a first delivery
    * CAS-commits latest+1 with the batch recorded in the applied-batches
    * ledger and its stats advance in the same marker body; a
    * RE-DELIVERED batch finds its ledger row and SKIPS — its committed
    * version is immutable. The gate proves a genuine checkpoint RESTART
    * mid-feed (`resumed`) and an explicit re-delivery of an
    * already-committed batch (`replay_idempotent`: that version's
    * manifest, stats, and pinned probe are untouched, as is the head).
    * The final probe must hash identically to the one-shot q_t_bm25
    * oracle over the FULL corpus — stream-maintained ≡ from-scratch.
    */
  val tBm25StreamIngest = QueryDef(
    "q_t_bm25_stream_ingest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.text.PostingsIndex
      import graft.sources.ManifestedPartitions
      val docs = t(s, dir, "documents")
      val isDelta = pmod(col("doc_id"), lit(3)) === 0
      Dirs.scratch("graft_bm25_stream") { stage =>
        val idx = s"$stage/index"
        val feed = stage.resolve("feed")
        val ckpt = stage.resolve("ckpt")
        PostingsIndex.write(docs.filter(!isDelta), "doc_id", "text",
          nBuckets = 16, idx) // v1
        // three arrival slices: ascending doc_id ranges, ascending mtimes
        val sliced = docs.filter(isDelta).select("doc_id", "text")
          .withColumn("slice",
            ntile(3).over(Window.orderBy("doc_id")) - 1)
          .localCheckpoint(true)
        QueryDef.stageSlices(sliced, "slice", 3, stage)
        // ledger-keyed exactly-once (ADVICE r17: the old batch-keyed
        // appendAt replace-committed version batchId+2, clobbering any
        // interleaved maintenance commit): a first delivery CAS-commits
        // latest+1 and records itself in the applied-batches ledger; a
        // re-delivery finds its ledger row and SKIPS — the committed
        // version is immutable
        def applyBatch(b: DataFrame, batchId: Long): Unit = {
          if (!b.isEmpty) {
            PostingsIndex.ingestBatch(s, idx, b, "doc_id", "text", batchId)
            ()
          }
        }
        val schema = sliced.drop("slice").schema
        val seen = scala.collection.mutable.ArrayBuffer[Long]()
        def runPhase(): Unit = {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed.toString)
            .writeStream
            .option("checkpointLocation", ckpt.toString)
            .foreachBatch { (b: DataFrame, batchId: Long) =>
              if (!b.isEmpty) {
                applyBatch(b, batchId)
                seen += batchId
                ()
              }
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        landSlice(stage, feed, 0); runPhase()
        val phase1Max = seen.max
        landSlice(stage, feed, 1); landSlice(stage, feed, 2)
        runPhase() // RESTART from the checkpoint
        val resumed = seen.size >= 3 &&
          seen.drop(1).forall(_ > phase1Max)
        require(ManifestedPartitions.latestVersion(idx).contains(4L),
          s"expected 4 committed versions, got " +
            s"${ManifestedPartitions.latestVersion(idx)}")
        // EXPLICIT RE-DELIVERY of the already-committed batch 1: same
        // batchId ⇒ same input snapshot ⇒ identical manifest, stats, and
        // pinned probe; the head version is untouched
        def probeVals(v: Long) = PostingsIndex
          .probe(s, idx, Bm25Terms, "doc_id", k = Bm25K, version = Some(v))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        val v3Entries = ManifestedPartitions.readEntries(
          s, idx, "postings", 3L)
        val v3Stats = PostingsIndex.readStats(s, idx, Some(3L))
        val v3Probe = probeVals(3L)
        val headProbe = probeVals(4L)
        applyBatch(s.read.parquet(feed.resolve("b01.parquet").toString), 1L)
        val replayIdempotent =
          (ManifestedPartitions.readEntries(s, idx, "postings", 3L)
            == v3Entries) &&
          (PostingsIndex.readStats(s, idx, Some(3L)) == v3Stats) &&
          probeVals(3L) == v3Probe && probeVals(4L) == headProbe &&
          ManifestedPartitions.latestVersion(idx).contains(4L)
        PostingsIndex.probe(s, idx, Bm25Terms, "doc_id", k = Bm25K)
          .withColumn("resumed", lit(resumed))
          .withColumn("replay_idempotent", lit(replayIdempotent))
          .orderBy("rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT r.*, TRUE AS resumed, TRUE AS replay_idempotent
      FROM (${bm25OracleSql()}) r
      ORDER BY rank""")
  )

  // q_t_dsir parameters — shared by the Spark query, the aux dump, and the
  // oracle SQL
  private val DsirBuckets = 1024
  private val DsirTargetLang = "en"

  /** Lower-cased whitespace tokens per doc — the exact q_t_vocab/tf-idf
    * tokenization, reused so DSIR's features line up with the rest of the
    * text family.
    */
  private def dsirToks(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        lower(TextAnalysis.normText(col("text"))).as("nt"))
      .filter(length(col("nt")) > 0)
      .select(col("doc_id"), col("lang"),
        explode(split(col("nt"), " ")).as("w"))

  /** Spark-computed token→bucket map (engine-specific xxhash64, the same
    * only-the-hash-goes-unchecked contract as cms_hashes) for the
    * q_t_dsir oracle replay.
    */
  val auxDumps: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "dsir_buckets" -> ((s, dir) =>
      dsirToks(s, dir).select("w").distinct()
        .withColumn("b", pmod(xxhash64(col("w")), lit(DsirBuckets)))))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the log-likelihood ratio of a hashed-feature unigram model of the
    * TARGET distribution (here: the '$DsirTargetLang' slice) vs the RAW
    * corpus, add-1 smoothed over $DsirBuckets hash buckets. The curation
    * move behind domain-targeted pretraining mixes: rank raw data by how
    * target-like it is, then sample by weight.
    *
    * Plan: one token pass → two bucket-count aggregates (≤$DsirBuckets
    * rows each) → broadcast log-ratio table joined back to per-(doc,
    * bucket) counts — no shuffle wider than the token groupBy at any
    * scale. Ranking uses the r6-ROUNDED weight (identical in both
    * engines) with doc_id tie-break, so the top-25 is deterministic.
    */
  val tDsir = QueryDef(
    "q_t_dsir",
    (s, dir) =>
      graft.text.Dsir.weights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === DsirTargetLang, DsirBuckets)
        .select(col("doc_id"), r6(col("dsir_weight")).as("dsir_weight"),
          col("n_tokens"))
        .orderBy(desc("dsir_weight"), col("doc_id"))
        .limit(25),
    Some(s"""
      WITH t AS (
        SELECT doc_id, lang, lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, lang, unnest(string_split(nt, ' ')) AS w FROM t),
      bk AS (
        SELECT tok.doc_id, tok.lang, m.b
        FROM tok JOIN (
          SELECT w, b
          FROM read_parquet('__VERIFY_OUT__/_aux/dsir_buckets/*.parquet')) m
          USING (w)),
      raw AS (SELECT b, count(*) AS cr FROM bk GROUP BY 1),
      tgt AS (SELECT b, count(*) AS ct
              FROM bk WHERE lang = '$DsirTargetLang' GROUP BY 1),
      tot AS (
        SELECT (SELECT sum(cr) FROM raw) AS nr,
               (SELECT sum(ct) FROM tgt) AS nt),
      lr AS (
        SELECT r.b,
               ln(CAST(coalesce(g.ct, 0) + 1 AS DOUBLE)
                  / (tot.nt + $DsirBuckets))
               - ln(CAST(r.cr + 1 AS DOUBLE) / (tot.nr + $DsirBuckets))
                 AS lr
        FROM raw r LEFT JOIN tgt g USING (b) CROSS JOIN tot),
      dc AS (SELECT doc_id, b, count(*) AS n FROM bk GROUP BY 1, 2),
      w AS (
        SELECT dc.doc_id, sum(dc.n * lr.lr) AS wgt,
               CAST(sum(dc.n) AS BIGINT) AS n_tokens
        FROM dc JOIN lr USING (b) GROUP BY 1)
      SELECT doc_id, ${sqlR6("wgt")} AS dsir_weight, n_tokens
      FROM w ORDER BY dsir_weight DESC, doc_id LIMIT 25""")
  )

  // 2^60, the md5-prefix range — interpolated identically into both
  // engines' uniform construction
  private val Md5Range = math.pow(2, 60)

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006): one
    * key `−ln(u)/w` per row from a content-addressed uniform (the md5
    * 60-bit prefix — same engine-portable mechanism as q_t_split, so
    * membership survives re-runs, repartitioning, and engine migration,
    * unlike `rand()`), keep the k smallest — the distributed
    * length-weighted document sampler (weight = n_chars). Selection is a
    * top-k over the rounded key with doc_id tie-break: no shuffle wider
    * than the top-k, no global sort. Only `ln` is engine-float (last-ulp
    * class); ×1e6 scaling puts r6 at 1e-12 relative granularity.
    */
  val tWsample = QueryDef(
    "q_t_wsample",
    (s, dir) => {
      val u = TextAnalysis.contentUniform(col("doc_id"))
      t(s, dir, "documents")
        .where(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          r6(-log(u) * 1e6 / col("n_chars")).as("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
        .limit(25)
    },
    Some(s"""
      SELECT doc_id, n_chars,
             ${sqlR6(s"-ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) + 1.0) / $Md5Range) * 1e6 / n_chars")} AS es_key
      FROM documents WHERE n_chars > 0
      ORDER BY es_key, doc_id LIMIT 25""")
  )

  /** Cross-source vocabulary overlap: Jaccard similarity of the distinct
    * token sets of every source pair — the corpus-similarity matrix a data
    * recipe consults before mixing sources (near-identical vocabularies →
    * redundant sources; disjoint → coverage). Uses the exact q_t_vocab
    * tokenization. Plan: one distinct (source, token) set, per-source
    * sizes re-aggregated from it, intersections via a token-keyed
    * self-join (fanout ≤ |sources|² per token, the bounded-key join shape
    * of the triangle counter), all-pairs completed from the tiny sizes
    * cross join so zero-overlap pairs surface too. Counts are exact
    * integers; the Jaccard is one int/int division — bit-exact.
    */
  val tVocabOverlap = QueryDef(
    "q_t_vocab_overlap",
    (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(col("source"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("source"), explode(split(col("nt"), " ")).as("w"))
        .distinct()
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("v"))
      val a = vocab.select(col("source").as("sa"), col("w"))
      val b = vocab.select(col("source").as("sb"), col("w"))
      val inter = a.join(b, Seq("w")).where(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
      val pairs = sizes.select(col("source").as("sa"), col("v").as("va"))
        .crossJoin(broadcast(
          sizes.select(col("source").as("sb"), col("v").as("vb"))))
        .where(col("sa") < col("sb"))
      pairs.join(inter, Seq("sa", "sb"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .select(col("sa"), col("sb"), col("va"), col("vb"), col("n_inter"),
          (col("n_inter").cast("double") /
            (col("va") + col("vb") - col("n_inter")).cast("double"))
            .as("jaccard"))
        .orderBy("sa", "sb")
    },
    Some(s"""
      WITH vocab AS (
        SELECT DISTINCT source, w
        FROM (
          SELECT source, unnest(string_split(lower($sqlNorm), ' ')) AS w
          FROM documents WHERE length($sqlNorm) > 0)),
      sizes AS (SELECT source, count(*) AS v FROM vocab GROUP BY 1),
      inter AS (
        SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
        FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2),
      pairs AS (
        SELECT a.source AS sa, b.source AS sb, a.v AS va, b.v AS vb
        FROM sizes a CROSS JOIN sizes b WHERE a.source < b.source)
      SELECT sa, sb, va, vb,
             CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
             CAST(coalesce(n_inter, 0) AS DOUBLE)
               / CAST(va + vb - coalesce(n_inter, 0) AS DOUBLE) AS jaccard
      FROM pairs LEFT JOIN inter USING (sa, sb)
      ORDER BY sa, sb""")
  )

  /** Jensen–Shannon divergence between every source pair's unigram
    * distribution — the distribution-shift audit a corpus-mixing pipeline
    * runs before blending sources (and the distance DSIR-style selection
    * builds on), in bits via the base-2 formulation. The sum over the
    * token UNION is decomposed so only the SHARED-token join materializes:
    * for a token present in one side only, m = p/2, so its contribution is
    * p·ln2 — all absent-side mass folds into (1 − Σ_shared p)·ln2, leaving
    * JSD_bits = ½·[(Σ_sh p·ln(2p/(p+q)) + Σ_sh q·ln(2q/(p+q)))/ln2
    * + (2 − Σ_sh p − Σ_sh q)]. The shared join is token-keyed (bounded
    * fanout: ≤ |sources| rows per token side — the q_t_vocab_overlap scale
    * argument); per-pair terms are decimal(38,18)-accumulated
    * (order-independent), with p, q exact int/int divisions and ln on
    * identical doubles (the q_a21_entropy portability contract) → r6.
    */
  val tJsd = QueryDef(
    "q_t_jsd",
    (s, dir) => {
      def s18(c: org.apache.spark.sql.Column) =
        sum(c.cast("decimal(38,18)")).cast("double")
      val ln2 = math.log(2.0)
      val cnt = t(s, dir, "documents")
        .select(col("source"), lower(TextAnalysis.normText(col("text")))
          .as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("source"), explode(split(col("nt"), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("source").agg(sum("c").as("tot"))
      val wc = cnt.join(tot, "source")
        .select(col("source"), col("w"),
          (col("c").cast("double") / col("tot").cast("double")).as("p"))
      val a = wc.select(col("source").as("sa"), col("w"), col("p"))
      val b = wc.select(col("source").as("sb"), col("w"),
        col("p").as("q"))
      val termA = col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))
      val termB = col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))
      val shared = a.join(b, Seq("w")).where(col("sa") < col("sb"))
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_shared"), s18(termA).as("ta"),
          s18(termB).as("tb"), s18(col("p")).as("pa"),
          s18(col("q")).as("pb"))
      val pairs = tot.select(col("source").as("sa"))
        .crossJoin(broadcast(tot.select(col("source").as("sb"))))
        .where(col("sa") < col("sb"))
      pairs.join(shared, Seq("sa", "sb"), "left")
        .select(col("sa"), col("sb"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          r6(lit(0.5) * ((coalesce(col("ta"), lit(0.0)) +
            coalesce(col("tb"), lit(0.0))) / lit(ln2) +
            (lit(2.0) - coalesce(col("pa"), lit(0.0)) -
              coalesce(col("pb"), lit(0.0))))).as("jsd_bits"))
        .orderBy("sa", "sb")
    },
    Some {
      def s18(e: String) =
        s"CAST(sum(CAST(($e) AS DECIMAL(38,18))) AS DOUBLE)"
      val ln2 = math.log(2.0)
      s"""
      WITH toko AS (
        SELECT source, unnest(string_split(lower($sqlNorm), ' ')) AS w
        FROM documents WHERE length($sqlNorm) > 0),
      cnt AS (
        SELECT source, w, count(*) AS c FROM toko GROUP BY 1, 2),
      tot AS (SELECT source, sum(c) AS tot FROM cnt GROUP BY 1),
      wc AS (
        SELECT cnt.source, cnt.w,
               CAST(cnt.c AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS p
        FROM cnt JOIN tot ON tot.source = cnt.source),
      shared AS (
        SELECT a.source AS sa, b.source AS sb,
               CAST(count(*) AS BIGINT) AS n_shared,
               ${s18("a.p * ln(2.0 * a.p / (a.p + b.p))")} AS ta,
               ${s18("b.p * ln(2.0 * b.p / (a.p + b.p))")} AS tb,
               ${s18("a.p")} AS pa,
               ${s18("b.p")} AS pb
        FROM wc a JOIN wc b ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2),
      pairs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM tot a CROSS JOIN tot b WHERE a.source < b.source)
      SELECT pairs.sa, pairs.sb,
             coalesce(n_shared, 0) AS n_shared,
             ${sqlR6(s"""0.5 * ((coalesce(ta, 0.0) + coalesce(tb, 0.0))
               / $ln2
               + (2.0 - coalesce(pa, 0.0) - coalesce(pb, 0.0)))""")}
               AS jsd_bits
      FROM pairs LEFT JOIN shared USING (sa, sb)
      ORDER BY sa, sb"""
    }
  )

  /** Feature hashing (the "hashing trick" — Weinberger et al., ICML 2009):
    * tokens land in a FIXED 64-bucket signed feature space via the
    * portable md5 hash (bucket = 60-bit prefix mod 64, sign = 16th hex
    * digit), giving the bounded-width bag-of-words a downstream trainer
    * consumes with NO vocabulary pass and no vocabulary state to ship —
    * the property that matters when the corpus vocabulary is unbounded.
    * One token-keyed aggregate, output |sources| × 64 regardless of SF;
    * counts and signed sums are exact integers → bit-exact.
    */
  val tFeatHash = QueryDef(
    "q_t_feathash",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("source"), explode(split(col("nt"), " ")).as("w"))
      toks
        .withColumn("bucket",
          pmod(graft.functions.Md5Prefix60.md5Prefix60(col("w")),
            lit(64L)))
        .withColumn("sgn",
          when(substring(md5(col("w")), 16, 1) >= "8", 1L).otherwise(-1L))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_terms"), sum(col("sgn")).as("signed_sum"))
        .orderBy("source", "bucket")
    },
    Some(s"""
      WITH toko AS (
        SELECT source, unnest(string_split(lower($sqlNorm), ' ')) AS w
        FROM documents WHERE length($sqlNorm) > 0),
      h AS (
        SELECT source,
               CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64 AS bucket,
               CASE WHEN substr(md5(w), 16, 1) >= '8' THEN 1 ELSE -1 END
                 AS sgn
        FROM toko)
      SELECT source, bucket, count(*) AS n_terms,
             CAST(sum(sgn) AS BIGINT) AS signed_sum
      FROM h GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  // q_t_dupspans n-gram width (word-level), shared by both engines
  private val DupN = 8

  /** CROSS-corpus duplicated n-gram span detection — the practical Spark
    * shape of exact-substring training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022: their
    * suffix-array finds ≥50-char duplicated substrings; the hashed
    * fixed-width n-gram grid is the distributed approximation production
    * pipelines run, trading span granularity for a shuffle-friendly key).
    * Unlike q_t_repetition (WITHIN-doc repetition), this flags spans
    * duplicated ANYWHERE in the corpus: per doc, the count and share of
    * its word-8-gram positions whose fingerprint occurs ≥2 times
    * globally — the "memorization risk" score that drives span-removal.
    *
    * Plan: posexplode → 7 window leads per doc (doc-bounded, one shuffle
    * on doc_id) → 60-bit md5 fingerprint → ONE count window partitioned
    * by fingerprint (shuffles compact longs, not 8-gram strings; no join
    * back) → per-doc aggregate. No global sort — the final top-30 is a
    * TakeOrdered. Ratios are exact rationals → r6 is bit-stable.
    */
  val tDupSpans = QueryDef(
    "q_t_dupspans",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(TextAnalysis.normText(col("text"))), " "))
            .as(Seq("pos", "w")))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val withLeads = (1 until DupN).foldLeft(toks) { (d, i) =>
        d.withColumn(s"l$i", lead(col("w"), i).over(byDoc))
      }
      val gramCols = col("w") +: (1 until DupN).map(i => col(s"l$i"))
      val grams = withLeads
        .where(col(s"l${DupN - 1}").isNotNull)
        .select(col("doc_id"),
          graft.sketches.Kmv.keyHash(
            concat_ws("\u0001", gramCols: _*)).as("fp"))
      val cnt = count(lit(1)).over(Window.partitionBy("fp"))
      grams.withColumn("cnt", cnt)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .where(col("n_dup_spans") > 0)
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          r6(col("n_dup_spans").cast("double")
            / col("n_spans").cast("double")).as("dup_ratio"))
        .orderBy(col("dup_ratio").desc, col("doc_id"))
        .limit(30)
    },
    Some {
      val leads = (1 until DupN)
        .map(i => s"lead(w, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS l$i")
        .mkString(",\n               ")
      val gram = ("w" +: (1 until DupN).map(i => s"l$i"))
        .mkString(" || chr(1) || ")
      s"""
      WITH t AS (
        SELECT doc_id, string_split(lower($sqlNorm), ' ') AS tk
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM t),
      led AS (
        SELECT doc_id, pos, w,
               $leads
        FROM tok),
      grams AS (
        SELECT doc_id,
               ${graft.sketches.Kmv.sqlKeyHash(gram)} AS fp
        FROM led WHERE l${DupN - 1} IS NOT NULL),
      cnts AS (
        SELECT doc_id, count(*) OVER (PARTITION BY fp) AS cnt
        FROM grams),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans
        FROM cnts GROUP BY 1)
      SELECT doc_id, n_spans, n_dup_spans,
             ${sqlR6("CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE)")}
               AS dup_ratio
      FROM agg WHERE n_dup_spans > 0
      ORDER BY dup_ratio DESC, doc_id LIMIT 30"""
    }
  )

  /** Zipf-law fit over the vocabulary head: OLS of ln(freq) on ln(rank)
    * for the top-[[ZipfHead]] tokens — the standard corpus-health check (a
    * natural corpus slopes ≈ −1; templated/synthetic text flattens or
    * steepens it). Ranks are exact-integer (freq desc, token tie-break);
    * each (ln rank, ln freq) term is a deterministic per-row double, the
    * OLS moment sums are exact DECIMAL(38,18) (order-independent), and
    * the slope/intercept trees are fixed float expressions over decD'd
    * sums. Scale: the token count is the only full-corpus pass; the fit
    * runs on a [[ZipfHead]]-row head regardless of SF.
    */
  private val ZipfHead = 200
  val tZipf = QueryDef(
    "q_t_zipf",
    (s, dir) => {
      val head = t(s, dir, "documents")
        .select(lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(explode(split(col("nt"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("w"))
        .limit(ZipfHead)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("c"), col("w"))))
      val terms = head.select(
        log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      val d18 = (c: Column) => c.cast("decimal(38,18)")
      val m = terms.agg(
        count(lit(1)).as("n"),
        decD(sum(d18(col("x")))).as("sx"),
        decD(sum(d18(col("y")))).as("sy"),
        decD(sum(d18(col("x") * col("x")))).as("sxx"),
        decD(sum(d18(col("x") * col("y")))).as("sxy"))
      m.select(
        col("n").as("n_tokens"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("zipf_slope"),
        r6((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n")).as("zipf_intercept"))
    },
    Some {
      val slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
      s"""
      WITH t AS (
        SELECT lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      tok AS (SELECT unnest(string_split(nt, ' ')) AS w FROM t),
      head AS (
        SELECT w, count(*) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, w LIMIT $ZipfHead),
      ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE))
                 AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM head),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               ${sqlDecD("sum(CAST(x AS DECIMAL(38,18)))")} AS sx,
               ${sqlDecD("sum(CAST(y AS DECIMAL(38,18)))")} AS sy,
               ${sqlDecD("sum(CAST(x * x AS DECIMAL(38,18)))")} AS sxx,
               ${sqlDecD("sum(CAST(x * y AS DECIMAL(38,18)))")} AS sxy
        FROM ranked)
      SELECT n AS n_tokens,
             ${sqlR6(slope)} AS zipf_slope,
             ${sqlR6(s"(sy - ($slope) * sx) / n")} AS zipf_intercept
      FROM m"""
    }
  )

  /** Language-ID evaluation: confusion matrix of the n-gram-marker
    * classifier (q_t_langid's `lang_pred`) against the corpus's labeled
    * `lang` column, plus per-cell share of the true class — the
    * classifier-audit readout (precision/recall per language fall
    * straight out of the cells) a curation pipeline checks before
    * trusting language gates at 100 TB. Counts are exact integers from
    * one aggregation over the scored scan; share is one division (r6).
    * The oracle re-derives the prediction from raw SQL (the q_t_langid
    * replay) — the audit join is cross-checked end to end.
    */
  val tLangConfusion = QueryDef(
    "q_t_lang_confusion",
    (s, dir) => {
      val scored = TextAnalysis.withLangId(t(s, dir, "documents"))
        .select(col("lang"), col("lang_pred"))
      val cells = scored.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
      val totals = scored.groupBy("lang")
        .agg(count(lit(1)).as("n_true"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          r6(col("n").cast("double") / col("n_true").cast("double"))
            .as("share_of_true"))
        .orderBy("lang", "lang_pred")
    },
    Some {
      val langs = TextAnalysis.LangMarkers.keys.toSeq.sorted
      def score(l: String) = TextAnalysis.LangMarkers(l).map(w =>
        s"len(regexp_extract_all(' ' || lower($sqlNorm) || ' ', ' $w ', 0))")
        .mkString(" + ")
      val scoreCols = langs.map(l => s"(${score(l)}) AS s_$l").mkString(", ")
      val caseChain = langs.map(l =>
        s"WHEN ${langs.map(o => s"s_$l >= s_$o").mkString(" AND ")} THEN '$l'")
        .mkString(" ")
      s"""
      WITH s AS (SELECT doc_id, lang, $scoreCols FROM documents),
      p AS (SELECT lang, CASE $caseChain END AS lang_pred FROM s),
      cells AS (
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM p GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_true
              FROM p GROUP BY 1)
      SELECT c.lang, c.lang_pred, c.n,
             ${sqlR6("CAST(c.n AS DOUBLE) / CAST(t.n_true AS DOUBLE)")}
               AS share_of_true
      FROM cells c JOIN tot t ON t.lang = c.lang
      ORDER BY c.lang, c.lang_pred"""
    }
  )

  /** BPE merge step: the top-15 most frequent ADJACENT CHARACTER pairs
    * across the corpus, weighted by word frequency — exactly the
    * argmax a byte-pair-encoding tokenizer trainer computes per merge
    * (Sennrich et al. 2016), run on the word-frequency table instead of
    * the raw stream (the standard trainer optimization: corpus scan
    * once, pairs counted per DISTINCT word × its count). Character
    * positions come from an integer sequence + substring — no
    * empty-separator split semantics to align between engines. Exact
    * integer counts; pair fanout is bounded by Σ|word| over the
    * DISTINCT vocabulary, not the corpus.
    */
  val tBpeStep = QueryDef(
    "q_t_bpe_step",
    (s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(explode(split(col("nt"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .where(length(col("w")) >= 2)
      vocab
        .select(col("w"), col("c"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("c"))
        .groupBy("pair").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(15)
    },
    Some(s"""
      WITH t AS (
        SELECT lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      vocab AS (
        SELECT w, count(*) AS c FROM (
          SELECT unnest(string_split(nt, ' ')) AS w FROM t)
        GROUP BY 1 HAVING length(w) >= 2),
      pairs AS (
        SELECT substring(w, i, 2) AS pair, c
        FROM vocab, unnest(range(1, length(w))) AS u(i))
      SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
      FROM pairs GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 15""")
  )

  /** BPE TRAINING, K=5 merges (Sennrich et al. 2016) — the full iterative
    * trainer loop, not just one argmax step (q_t_bpe_step): words become
    * bracket-delimited token sequences ('<h><e><l><l><o>'), each round
    * counts adjacent token pairs weighted by word frequency, merges the
    * winning pair (count desc, pair asc tiebreak) across the whole
    * vocabulary with string `replace` — non-overlapping left-to-right in
    * BOTH engines, which is exactly the greedy merge order BPE specifies
    * ('<a><a><a>' + merge (a,a) → '<aa><a>') — and repeats. Vocabulary is
    * pre-tokenized to [a-z0-9]+ words so the bracket markers can't
    * collide with token text, and the bracketed rendering is a bijection
    * of the token sequence, so merged words never alias. Each round's
    * argmax is a bounded driver aggregate (exactly ONE row — the k-means
    * centers pattern) and the vocab is localCheckpointed per round to
    * truncate lineage; pair fanout is bounded by Σ|word| over the
    * DISTINCT vocabulary, not the corpus, so the loop scales with
    * dictionary size at 100 TB. The oracle replays all 5 rounds as
    * chained CTEs (the PageRank/HITS pattern) — exact integer counts,
    * exact strings.
    */
  private val BpeK = 5

  /** DuckDB replay of text.Bpe.train's K rounds as chained CTEs (the
    * PageRank/HITS pattern): CTEs t, v0, and per round k: pair explode
    * p_k, one-row argmax m_k, merged vocabulary v_k. The caller appends
    * its own final SELECT over m_1..m_K / v_K.
    */
  private def sqlBpeCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""
      p$i AS (
        SELECT list_extract(ts, j) AS a, list_extract(ts, j + 1) AS b, c
        FROM (SELECT string_split(substring(toks, 2, length(toks) - 2),
                 '><') AS ts, c FROM v${i - 1}) q,
             unnest(range(1, len(ts))) AS u(j)),
      m$i AS (
        SELECT '<' || a || '><' || b || '>' AS pair, a, b,
               CAST(sum(c) AS BIGINT) AS cnt
        FROM p$i GROUP BY 1, 2, 3 ORDER BY cnt DESC, pair LIMIT 1),
      v$i AS MATERIALIZED (
        SELECT replace(toks, (SELECT pair FROM m$i),
                 '<' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || '>')
                 AS toks, c
        FROM v${i - 1})"""
    }.mkString(",")
    s"""
      WITH t AS (
        SELECT lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      v0 AS MATERIALIZED (
        SELECT '<' || array_to_string(string_split(w, ''), '><') || '>'
                 AS toks, count(*) AS c
        FROM (SELECT unnest(string_split(nt, ' ')) AS w FROM t) u
        WHERE regexp_full_match(w, '[a-z0-9]+') AND length(w) >= 2
        GROUP BY 1),$rounds"""
  }

  val tBpeTrain5 = QueryDef(
    "q_t_bpe_train5",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      val (merges, _) = Bpe.train(s,
        Bpe.vocab0(t(s, dir, "documents"), "text"), BpeK)
      merges.map(m => (m.step, m.a, m.b, m.cnt))
        .toDF("step", "tok_a", "tok_b", "cnt")
        .orderBy("step")
    },
    Some {
      val sel = (1 to BpeK).map(k =>
        s"SELECT $k AS step, a AS tok_a, b AS tok_b, cnt FROM m$k")
        .mkString("\n      UNION ALL ")
      s"""${sqlBpeCtes(BpeK)}
      $sel
      ORDER BY step"""
    }
  )

  /** BPE ENCODING with the trained merges — the tokenizer APPLY side:
    * after the K training rounds, the encoded vocabulary IS the
    * tokenized corpus (each distinct word carries its frequency), so the
    * corpus token stream falls out of one explode over the bounded
    * vocabulary — no second corpus scan. Reports the top-15 subword
    * tokens by corpus frequency (count desc, token asc — total order) —
    * the vocabulary head a tokenizer-training pipeline inspects before
    * freezing the merge table. Exact integer counts; the oracle replays
    * training AND encoding through the same chained CTEs.
    */
  val tBpeEncode = QueryDef(
    "q_t_bpe_encode",
    (s, dir) => {
      val (_, vocab) = Bpe.train(s,
        Bpe.vocab0(t(s, dir, "documents"), "text"), BpeK)
      Bpe.explodeTokens(vocab)
        .groupBy("tok").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
        .limit(15)
    },
    Some(s"""${sqlBpeCtes(BpeK)},
      toks AS (
        SELECT unnest(string_split(substring(toks, 2, length(toks) - 2),
                 '><')) AS tok, c
        FROM v$BpeK)
      SELECT tok, CAST(sum(c) AS BIGINT) AS cnt
      FROM toks GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 15""")
  )

  /** BLEU-style modified n-gram precision (Papineni et al. 2002) at
    * corpus scale — the eval-pipeline scan that scores generated text
    * against references without a model: even doc_ids are candidates,
    * doc_id+1 is the paired reference; per pair and n∈{1,2}, the clipped
    * n-gram count is Σ_g min(count_cand(g), count_ref(g)) (missing
    * references clip to 0). Corpus-level totals are exact integers —
    * the actual gate — with the two precisions one division each (r6).
    * Scale shape: n-gram counts shuffle once per n on (doc, gram); the
    * pair join is key-bounded (each candidate meets one reference);
    * final totals are 1-row broadcast aggregates.
    */
  val tBleu = QueryDef(
    "q_t_bleu",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("doc_id"), split(col("nt"), " ").as("ts"))
      def counts(n: Int) = {
        val grams =
          if (n == 1) toks.select(col("doc_id"), explode(col("ts")).as("g"))
          else toks.filter(size(col("ts")) >= n)
            .select(col("doc_id"),
              explode(sequence(lit(1), size(col("ts")) - (n - 1))).as("i"),
              col("ts"))
            .select(col("doc_id"), concat_ws(" ",
              (0 until n).map(d => element_at(col("ts"), col("i") + d)): _*)
              .as("g"))
        grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      }
      def clipped(n: Int) = {
        val cand = counts(n).filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("cid"), col("g"), col("c").as("cc"))
        val ref = counts(n).filter(pmod(col("doc_id"), lit(2)) === 1)
          .select((col("doc_id") - 1).as("cid"), col("g"), col("c").as("rc"))
        cand.join(ref, Seq("cid", "g"), "left")
          .agg(sum(least(col("cc"), coalesce(col("rc"), lit(0L))))
            .as(s"clip$n"), sum(col("cc")).as(s"tot$n"))
      }
      broadcast(clipped(1)).crossJoin(broadcast(clipped(2)))
        .select(col("clip1"), col("tot1"), col("clip2"), col("tot2"),
          r6(col("clip1").cast("double") / col("tot1").cast("double"))
            .as("p1"),
          r6(col("clip2").cast("double") / col("tot2").cast("double"))
            .as("p2"))
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      ts AS (SELECT doc_id, string_split(nt, ' ') AS ts FROM t),
      c1 AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest(ts) AS g FROM ts)
        GROUP BY 1, 2),
      c2 AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id,
                 list_extract(ts, i) || ' ' || list_extract(ts, i + 1) AS g
          FROM ts, unnest(range(1, len(ts))) AS u(i))
        GROUP BY 1, 2),
      k1 AS (
        SELECT CAST(sum(least(a.c, coalesce(b.c, 0))) AS BIGINT) AS clip1,
               CAST(sum(a.c) AS BIGINT) AS tot1
        FROM (SELECT * FROM c1 WHERE doc_id % 2 = 0) a
        LEFT JOIN (SELECT doc_id - 1 AS cid, g, c FROM c1
                   WHERE doc_id % 2 = 1) b
          ON b.cid = a.doc_id AND b.g = a.g),
      k2 AS (
        SELECT CAST(sum(least(a.c, coalesce(b.c, 0))) AS BIGINT) AS clip2,
               CAST(sum(a.c) AS BIGINT) AS tot2
        FROM (SELECT * FROM c2 WHERE doc_id % 2 = 0) a
        LEFT JOIN (SELECT doc_id - 1 AS cid, g, c FROM c2
                   WHERE doc_id % 2 = 1) b
          ON b.cid = a.doc_id AND b.g = a.g)
      SELECT clip1, tot1, clip2, tot2,
             ${sqlR6("CAST(clip1 AS DOUBLE) / CAST(tot1 AS DOUBLE)")} AS p1,
             ${sqlR6("CAST(clip2 AS DOUBLE) / CAST(tot2 AS DOUBLE)")} AS p2
      FROM k1 CROSS JOIN k2""")
  )

  /** Overlapping-window document CHUNKING — the RAG/pretraining prep op
    * that cuts each document into fixed token windows with stride
    * overlap (W=50, S=40 → 10-token overlap): token at position p lands
    * in chunks max(0, (p−(W−S))/S) … p/S (truncating division — at most
    * ⌈W/S⌉=2 chunks per token), generated by one bounded explode, never
    * a range self-join. The gate counts docs, distinct chunks, and
    * duplicated chunk-tokens per source, plus position/chunk checksums
    * (Σp, Σc over every (doc, chunk, token) triple) — exact integers
    * that break on any boundary off-by-one. Scale shape: one tokenize
    * pass, fanout ≤ 2×, one aggregation keyed by source.
    */
  val tChunkOverlap = {
    val W = 50
    val S = 40
    QueryDef(
      "q_t_chunk_overlap",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            lower(TextAnalysis.normText(col("text"))).as("nt"))
          .filter(length(col("nt")) > 0)
          .select(col("doc_id"), col("source"),
            posexplode(split(col("nt"), " ")).as(Seq("p", "w")))
        // `div` truncates toward zero exactly like DuckDB's `//`; the
        // only negative numerator (p < W−S) clamps to 0 either way
        val chunks = toks
          .select(col("doc_id"), col("source"), col("p").cast("long").as("p"))
          .withColumn("c", explode(sequence(
            greatest(lit(0L), expr(s"(p - ${W - S}) div $S")),
            expr(s"p div $S"))))
        chunks
          .groupBy("source")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("doc_id") * 100000L + col("c"))
              .as("n_chunks"),
            count(lit(1)).as("n_chunk_tokens"),
            sum(col("p")).as("sum_pos"),
            sum(col("c")).as("sum_chunk"))
          .orderBy("source")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, lower($sqlNorm) AS nt FROM documents
          WHERE length($sqlNorm) > 0),
        tok AS (
          SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS p
          FROM (SELECT doc_id, source, string_split(nt, ' ') AS ts FROM t) q,
               unnest(range(1, len(ts) + 1)) AS u(i)),
        ch AS (
          SELECT doc_id, source, p, c
          FROM tok, unnest(range(greatest(0, (p - ${W - S}) // $S),
                 p // $S + 1)) AS v(c))
        SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT doc_id * 100000 + c) AS BIGINT)
                 AS n_chunks,
               count(*) AS n_chunk_tokens,
               CAST(sum(p) AS BIGINT) AS sum_pos,
               CAST(sum(c) AS BIGINT) AS sum_chunk
        FROM ch GROUP BY 1 ORDER BY 1""")
    )
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * search combiner: a LEXICAL ranker (whitespace-token Jaccard vs the
    * query document — exact integer set sizes, one division) and a
    * SEMANTIC ranker (brute cosine vs the query doc's embedding, the
    * q_s_cosine_topk normalize-then-dot path) each produce a top-100
    * list; fused score = Σ 1/(60+rank) over the lists a doc appears in
    * (missing → 0, the real RRF convention — which is also what makes it
    * scale-safe: only two bounded top-N lists ever meet, never full
    * rankings). Ranks are integers, so the fused doubles are
    * bit-identical; ties break on doc_id.
    */
  /** Lexical ranker shared by q_t_rrf/q_t_rbo: top-`n` docs by exact
    * whitespace-token Jaccard against the query doc (query token set
    * broadcast; one division per doc), ranks tie-broken on doc_id.
    */
  private def lexTopN(s: org.apache.spark.sql.SparkSession, dir: String,
      qdoc: Long, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        lower(TextAnalysis.normText(col("text"))).as("nt"))
      .filter(length(col("nt")) > 0)
      .select(col("doc_id"), explode(split(col("nt"), " ")).as("w"))
      .distinct()
    val qtok = toks.filter(col("doc_id") === qdoc).select("w")
    val qn = broadcast(qtok.agg(count(lit(1)).as("qn")))
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val iv = toks.join(broadcast(qtok), Seq("w"))
      .groupBy("doc_id").agg(count(lit(1)).as("i"))
    val jac = sz.join(iv, Seq("doc_id"), "left").crossJoin(qn)
      .filter(col("doc_id") =!= qdoc)
      .select(col("doc_id"),
        (coalesce(col("i"), lit(0L)).cast("double") /
          (col("sz") + col("qn") - coalesce(col("i"), lit(0L)))
            .cast("double")).as("j"))
    jac.orderBy(desc("j"), col("doc_id")).limit(n)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(desc("j"), col("doc_id"))))
      .select(col("doc_id"), col("r_lex").cast("long").as("r_lex"))
  }

  /** Semantic ranker shared by q_t_rrf/q_t_rbo: top-`n` docs by brute
    * cosine to the query doc's embedding (normalize-then-dot, the
    * q_s_cosine_topk path), self excluded, ranks tie-broken on id.
    */
  private def semTopN(s: org.apache.spark.sql.SparkSession, dir: String,
      qdoc: Long, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
    graft.similarity.Ann.bruteForceTopK(
        e, e.filter(col("vec_id") === qdoc), "vec_id", "embedding",
        "vec_id", k = n + 1)
      .filter(col("nn_id") =!= qdoc)
      .withColumn("r_sem",
        row_number().over(Window.orderBy(desc("cos"), col("nn_id"))))
      .filter(col("r_sem") <= n)
      .select(col("nn_id").as("doc_id"),
        col("r_sem").cast("long").as("r_sem"))
  }

  /** DuckDB CTE chain replaying lexTopN → `lex(doc_id, r_lex)`. */
  private def sqlLexCtes(qdoc: Long, n: Int): String = s"""t AS (
          SELECT doc_id, lower($sqlNorm) AS nt
          FROM documents WHERE length($sqlNorm) > 0),
        tok AS (
          SELECT DISTINCT doc_id, unnest(string_split(nt, ' ')) AS w
          FROM t),
        q AS (SELECT w FROM tok WHERE doc_id = $qdoc),
        qn AS (SELECT count(*) AS qn FROM q),
        sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
        iv AS (SELECT tok.doc_id, count(*) AS i
               FROM tok JOIN q USING (w) GROUP BY 1),
        jac AS (
          SELECT sz.doc_id,
                 CAST(coalesce(i, 0) AS DOUBLE)
                   / CAST(sz + qn.qn - coalesce(i, 0) AS DOUBLE) AS j
          FROM sz LEFT JOIN iv USING (doc_id) CROSS JOIN qn
          WHERE sz.doc_id <> $qdoc),
        lex AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY j DESC, doc_id)
                   AS BIGINT) AS r_lex
          FROM jac QUALIFY r_lex <= $n)"""

  /** DuckDB CTE chain replaying semTopN → `sem(doc_id, r_sem)`. */
  private def sqlSemCtes(qdoc: Long, n: Int): String = s"""qv AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id = $qdoc),
        qnm AS (
          SELECT list_transform(v, x -> x /
                   sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
          FROM qv),
        cn AS (
          SELECT vec_id, list_transform(cv, x -> x /
                   sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
          FROM (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                FROM embeddings)
          WHERE vec_id <> $qdoc),
        sem AS (
          SELECT vec_id AS doc_id,
                 CAST(row_number() OVER (ORDER BY cos DESC, vec_id)
                   AS BIGINT) AS r_sem
          FROM (SELECT cn.vec_id,
                  list_sum(list_transform(list_zip(cn.cv, qnm.v),
                    p -> p[1] * p[2])) AS cos
                FROM cn CROSS JOIN qnm)
          QUALIFY r_sem <= $n)"""

  val tRrf = {
    val QDoc = 7L
    val N = 100
    val K = 10
    QueryDef(
      "q_t_rrf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lex = lexTopN(s, dir, QDoc, N)
        val sem = semTopN(s, dir, QDoc, N)
        val fused = lex.join(sem, Seq("doc_id"), "full")
          .select(col("doc_id"), col("r_lex"), col("r_sem"),
            (coalesce(lit(1.0) / (lit(60.0) + col("r_lex").cast("double")),
              lit(0.0)) +
             coalesce(lit(1.0) / (lit(60.0) + col("r_sem").cast("double")),
               lit(0.0))).as("rrf"))
        fused.orderBy(desc("rrf"), col("doc_id")).limit(K)
          .withColumn("rank",
            row_number().over(Window.orderBy(desc("rrf"), col("doc_id"))))
          .select(col("rank").cast("long").as("rank"), col("doc_id"),
            col("r_lex"), col("r_sem"), r6(col("rrf")).as("rrf"))
          .orderBy("rank")
      },
      Some(s"""
        WITH ${sqlLexCtes(QDoc, N)},
        ${sqlSemCtes(QDoc, N)},
        f AS (
          SELECT doc_id, r_lex, r_sem,
                 coalesce(1e0 / (60e0 + CAST(r_lex AS DOUBLE)), 0e0)
                   + coalesce(1e0 / (60e0 + CAST(r_sem AS DOUBLE)), 0e0)
                   AS rrf
          FROM lex FULL JOIN sem USING (doc_id))
        SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)
                 AS BIGINT) AS rank,
               doc_id, r_lex, r_sem, ${sqlR6("rrf")} AS rrf
        FROM f QUALIFY rank <= $K ORDER BY rank""")
    )
  }

  /** Rank-biased overlap (Webber et al. 2010) between the lexical and the
    * semantic top-10 — the ranking-agreement metric a hybrid-search stack
    * reports next to RRF: Σ_d (1−p)p^(d−1)·|A∩B @d|/d with p=0.9,
    * truncated at depth 10. The p-powers are PRECOMPUTED literals (no
    * cross-engine pow), depth-d overlaps are exact integer counts from
    * greatest(r_lex, r_sem) ≤ d, and the cumulative sum runs over 10
    * decimal-cast rows — everything downstream of the two bounded rank
    * lists is bit-exact.
    */
  val tRbo = {
    val QDoc = 7L
    val D = 10
    val wts = Array.tabulate(D)(i => 0.1 * math.pow(0.9, i))
    QueryDef(
      "q_t_rbo",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lex = lexTopN(s, dir, QDoc, D)
        val sem = semTopN(s, dir, QDoc, D)
        val ov = lex.join(sem, Seq("doc_id"))
          .select(greatest(col("r_lex"), col("r_sem")).as("m"))
        val cm = broadcast(ov.groupBy("m").agg(count(lit(1)).as("c")))
        val ds = s.range(1, D + 1).select(col("id").as("d"))
        val xd = ds.join(cm, col("m") <= col("d"), "left")
          .groupBy("d").agg(coalesce(sum(col("c")), lit(0L)).as("x_d"))
        val wArr = typedlit(wts.toSeq)
        xd.select(col("d"), col("x_d"),
            (element_at(wArr, col("d").cast("int")) *
              (col("x_d").cast("double") / col("d").cast("double")))
              .as("term"))
          .withColumn("rbo_cum",
            r6(sum(col("term").cast("decimal(38,18)"))
              .over(Window.orderBy("d")).cast("double")))
          .select(col("d"), col("x_d"), r6(col("term")).as("term"),
            col("rbo_cum"))
          .orderBy("d")
      },
      Some {
        val wl = wts.map(sqlD).mkString("[", ", ", "]")
        s"""
        WITH ${sqlLexCtes(QDoc, D)},
        ${sqlSemCtes(QDoc, D)},
        ov AS (
          SELECT greatest(r_lex, r_sem) AS m
          FROM lex JOIN sem USING (doc_id)),
        cm AS (SELECT m, count(*) AS c FROM ov GROUP BY 1),
        ds AS (SELECT CAST(unnest(range(1, ${D + 1})) AS BIGINT) AS d),
        xd AS (
          SELECT d, CAST(coalesce(sum(c), 0) AS BIGINT) AS x_d
          FROM ds LEFT JOIN cm ON m <= d GROUP BY 1),
        tm AS (
          SELECT d, x_d,
                 list_extract($wl, CAST(d AS INTEGER))
                   * (CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE)) AS term
          FROM xd)
        SELECT d, x_d, ${sqlR6("term")} AS term,
               ${sqlR6("CAST(sum(CAST(term AS DECIMAL(38,18))) " +
          "OVER (ORDER BY d) AS DOUBLE)")} AS rbo_cum
        FROM tm ORDER BY d"""
      }
    )
  }

  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * sampling formula (p_i^α / Σ p_j^α; mBERT/XLM-R style upsampling of
    * rare sources) at α = 0.5, i.e. τ = 2, where the power IS `sqrt` —
    * an exact IEEE op in both engines, so unlike a general pow there is
    * no cross-engine transcendental anywhere: shares are exact-integer
    * ratios, the normalizer is a decimal sum of bit-identical square
    * roots, and `boost` (weight/share) shows the rare-source upsampling
    * factor directly. One groupBy + two broadcast 1-row joins.
    */
  val tTempMixture = QueryDef(
    "q_t_temp_mixture",
    (s, dir) => {
      val cnt = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val tot = broadcast(cnt.agg(sum(col("n_docs")).as("nt")))
      val p = cnt.crossJoin(tot)
        .select(col("source"), col("n_docs"),
          (col("n_docs").cast("double") / col("nt").cast("double")).as("p"))
        .withColumn("w", sqrt(col("p")))
      val z = broadcast(p.agg(
        sum(col("w").cast("decimal(38,18)")).cast("double").as("z")))
      p.crossJoin(z)
        .select(col("source"), col("n_docs"), r6(col("p")).as("share"),
          r6(col("w") / col("z")).as("weight"),
          r6((col("w") / col("z")) / col("p")).as("boost"))
        .orderBy("source")
    },
    Some(s"""
      WITH c AS (SELECT source, count(*) AS n_docs
                 FROM documents GROUP BY 1),
      tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt FROM c),
      p AS (SELECT source, n_docs,
              CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE) AS p,
              sqrt(CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE)) AS w
            FROM c, tt),
      z AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,18))) AS DOUBLE) AS z
            FROM p)
      SELECT source, n_docs, ${sqlR6("p")} AS share,
             ${sqlR6("w / z")} AS weight, ${sqlR6("(w / z) / p")} AS boost
      FROM p, z ORDER BY source""")
  )

  /** ROUGE-L (Lin 2004) — the recall-oriented summarization metric BLEU's
    * precision twin doesn't cover, over the same even/odd candidate/
    * reference pairing as q_t_bleu (first 8 pairs, tokens truncated to
    * [[RougeT]]). The LCS is a full O(na·nb) dynamic program run as a
    * NESTED FOLD of native higher-order functions — Spark `aggregate`
    * over rows of the DP table carrying the previous row as an
    * array<int> accumulator, DuckDB `list_reduce` with the seed row
    * prepended (1.0.0 has no initial-value arg, so elements carry their
    * own index) — ALL integer arithmetic, no kernel, no UDF, no
    * recursion limit. P/R/F1 are three IEEE divisions of identical
    * integers. Scale shape: per-pair work is bounded by the T×T
    * truncation and embarrassingly parallel — exactly how a
    * summarization-eval sweep shards on a cluster.
    */
  val tRouge = {
    val P = 8 // pairs: candidate doc 2i vs reference doc 2i+1, i < P
    val T = 30 // token truncation bound per side → ≤ 900 DP cells
    QueryDef(
      "q_t_rouge",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .filter(col("doc_id") < 2 * P)
          .select(col("doc_id"),
            lower(TextAnalysis.normText(col("text"))).as("nt"))
          .filter(length(col("nt")) > 0)
          .select(col("doc_id"),
            slice(split(col("nt"), " "), 1, T).as("ts"))
        val a = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(expr("doc_id DIV 2").as("pid"), col("ts").as("ta"))
        val b = toks.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(expr("doc_id DIV 2").as("pid"), col("ts").as("tb"))
        val na = size(col("ta"))
        val nb = size(col("tb"))
        val dp = aggregate(
          sequence(lit(1), na),
          array_repeat(lit(0), nb + lit(1)),
          (prev, i) => aggregate(
            sequence(lit(1), nb),
            array(lit(0)),
            (acc, j) => concat(acc, array(greatest(
              element_at(prev, j + 1),
              element_at(acc, j),
              element_at(prev, j) +
                when(element_at(col("ta"), i) === element_at(col("tb"), j),
                  1).otherwise(0))))))
        val pr = a.join(b, Seq("pid"))
          .withColumn("lcs", element_at(dp, nb + lit(1)).cast("long"))
          .select(col("pid"), na.cast("long").as("na"),
            nb.cast("long").as("nb"), col("lcs"))
        val pcol = col("lcs").cast("double") / col("na").cast("double")
        val rcol = col("lcs").cast("double") / col("nb").cast("double")
        pr.select(col("pid"), col("na"), col("nb"), col("lcs"),
            r6(pcol).as("rouge_p"), r6(rcol).as("rouge_r"),
            when(col("lcs") === 0L, lit(0.0))
              .otherwise(r6(lit(2.0) * pcol * rcol / (pcol + rcol)))
              .as("rouge_f1"))
          .orderBy("pid")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, lower($sqlNorm) AS nt FROM documents
          WHERE length($sqlNorm) > 0 AND doc_id < ${2 * P}),
        ts AS (SELECT doc_id, string_split(nt, ' ')[1:$T] AS ts FROM t),
        pr AS (
          SELECT a.doc_id // 2 AS pid, a.ts AS ta, b.ts AS tb
          FROM (SELECT * FROM ts WHERE doc_id % 2 = 0) a
          JOIN (SELECT * FROM ts WHERE doc_id % 2 = 1) b
            ON b.doc_id = a.doc_id + 1),
        lc AS (
          SELECT pid, CAST(len(ta) AS BIGINT) AS na,
                 CAST(len(tb) AS BIGINT) AS nb,
                 CAST(list_reduce(
                   list_prepend(
                     list_transform(range(0, len(tb) + 1),
                       x -> CAST(0 AS INTEGER)),
                     list_transform(range(1, len(ta) + 1),
                       i -> [CAST(i AS INTEGER)])),
                   (prev, cur) -> list_reduce(
                     list_prepend([CAST(0 AS INTEGER)],
                       list_transform(range(1, len(tb) + 1),
                         j -> [CAST(j AS INTEGER)])),
                     (acc, jc) -> list_append(acc,
                       greatest(prev[jc[1] + 1], acc[jc[1]],
                         prev[jc[1]] + CASE WHEN ta[cur[1]] = tb[jc[1]]
                           THEN 1 ELSE 0 END))))[len(tb) + 1]
                   AS BIGINT) AS lcs
          FROM pr)
        SELECT pid, na, nb, lcs,
               ${sqlR6("CAST(lcs AS DOUBLE) / CAST(na AS DOUBLE)")}
                 AS rouge_p,
               ${sqlR6("CAST(lcs AS DOUBLE) / CAST(nb AS DOUBLE)")}
                 AS rouge_r,
               CASE WHEN lcs = 0 THEN 0e0 ELSE ${sqlR6(
          "2e0 * (CAST(lcs AS DOUBLE) / CAST(na AS DOUBLE))" +
            " * (CAST(lcs AS DOUBLE) / CAST(nb AS DOUBLE))" +
            " / ((CAST(lcs AS DOUBLE) / CAST(na AS DOUBLE))" +
            " + (CAST(lcs AS DOUBLE) / CAST(nb AS DOUBLE)))")} END
                 AS rouge_f1
        FROM lc ORDER BY pid""")
    )
  }

  /** Token-budget epoch scheduler — the planning step that turns a
    * mixture (temperature-weighted on TOKEN counts, α=0.5 ⇒ sqrt, the
    * q_t_temp_mixture formula on a different base measure) plus a total
    * token budget into per-source epoch counts, with the ≤4-epoch repeat
    * cap (Muennighoff et al. 2023: repeating beyond ~4 epochs stops
    * helping). Per source: target = wᵢ/Z·B, epochs = target/tᵢ,
    * eff_epochs = min(epochs, 4), and the shortfall a capped source
    * leaves on the table. Token counts are exact integers, sqrt/÷ are
    * exact IEEE ops, Z is a decimal sum — the whole schedule is
    * bit-identical before the final r-rounding. One groupBy + two 1-row
    * broadcasts.
    */
  val tTokenBudget = {
    val B = 1e6 // total training-token budget at this SF
    val Cap = 4.0 // max epochs per source
    QueryDef(
      "q_t_token_budget",
      (s, dir) => {
        val cnt = t(s, dir, "documents")
          .select(col("source"),
            lower(TextAnalysis.normText(col("text"))).as("nt"))
          .filter(length(col("nt")) > 0)
          .select(col("source"),
            size(split(col("nt"), " ")).cast("long").as("tk"))
          .groupBy("source").agg(sum(col("tk")).as("n_tokens"))
        val tot = broadcast(cnt.agg(sum(col("n_tokens")).as("tt")))
        val p = cnt.crossJoin(tot)
          .select(col("source"), col("n_tokens"),
            sqrt(col("n_tokens").cast("double") / col("tt").cast("double"))
              .as("w"))
        val z = broadcast(p.agg(
          sum(col("w").cast("decimal(38,18)")).cast("double").as("z")))
        val sched = p.crossJoin(z)
          .withColumn("target", col("w") / col("z") * lit(B))
          .withColumn("epochs", col("target") / col("n_tokens")
            .cast("double"))
        sched.select(col("source"), col("n_tokens"),
            r6(col("w") / col("z")).as("weight"),
            r2(col("target")).as("target_tokens"),
            r6(col("epochs")).as("epochs"),
            r6(least(col("epochs"), lit(Cap))).as("eff_epochs"),
            r2(least(col("epochs"), lit(Cap)) *
              col("n_tokens").cast("double")).as("eff_tokens"),
            r2(greatest(col("target") - least(col("epochs"), lit(Cap)) *
              col("n_tokens").cast("double"), lit(0.0))).as("shortfall"))
          .orderBy("source")
      },
      Some(s"""
        WITH t AS (
          SELECT source, lower($sqlNorm) AS nt FROM documents
          WHERE length($sqlNorm) > 0),
        c AS (
          SELECT source,
                 CAST(sum(len(string_split(nt, ' '))) AS BIGINT)
                   AS n_tokens
          FROM t GROUP BY 1),
        tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM c),
        p AS (
          SELECT source, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) AS w
          FROM c, tt),
        z AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,18))) AS DOUBLE) AS z
              FROM p),
        sc AS (
          SELECT source, n_tokens, w, z,
                 w / z * ${sqlD(B)} AS target,
                 w / z * ${sqlD(B)} / CAST(n_tokens AS DOUBLE) AS epochs
          FROM p, z)
        SELECT source, n_tokens,
               ${sqlR6("w / z")} AS weight,
               ${sqlR2("target")} AS target_tokens,
               ${sqlR6("epochs")} AS epochs,
               ${sqlR6(s"least(epochs, ${sqlD(Cap)})")} AS eff_epochs,
               ${sqlR2(s"least(epochs, ${sqlD(Cap)})" +
          " * CAST(n_tokens AS DOUBLE)")} AS eff_tokens,
               ${sqlR2(s"greatest(target - least(epochs, ${sqlD(Cap)})" +
          " * CAST(n_tokens AS DOUBLE), 0e0)")} AS shortfall
        FROM sc ORDER BY source""")
    )
  }

  /** Content-defined chunking (the FastCDC/rolling-hash idea behind
    * dedup-friendly storage and chunk-level training-data dedup):
    * a chunk boundary opens wherever the hash of the trailing 4-token
    * window clears a 1-in-8 threshold — so boundaries move WITH the
    * content, and a one-token insertion re-chunks only its
    * neighborhood, unlike q_t_chunk_overlap's fixed windows. The window
    * hash is the portable md5-60 of the 4 tokens (lag×3 + current, with
    * an explicit pos≥3 guard because concat_ws would silently skip a
    * null lag), chunk ids are a prefix sum of boundary flags, and the
    * per-source audit reports chunk-content dedup (count distinct of
    * the reassembled chunk string — at 100 TB you'd count distinct
    * 60-bit chunk hashes instead; the grouping and prefix sum shapes
    * are unchanged). All counts exact integers; two r6 divisions.
    */
  val tCdcChunks = QueryDef(
    "q_t_cdc_chunks",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Md5Prefix60.md5Prefix60
      val byPos = Window.partitionBy("doc_id").orderBy("pos")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("doc_id"), col("source"),
          posexplode(split(col("nt"), " ")).as(Seq("pos", "w")))
      val flagged = toks
        .withColumn("w1", lag(col("w"), 1).over(byPos))
        .withColumn("w2", lag(col("w"), 2).over(byPos))
        .withColumn("w3", lag(col("w"), 3).over(byPos))
        .withColumn("b",
          when(col("pos") === 0, true)
            .when(col("pos") >= 3,
              pmod(md5Prefix60(Seq(col("w3"), col("w2"), col("w1"),
                col("w"))), lit(64L)) < 8L)
            .otherwise(false))
        .withColumn("chunk_no",
          sum(when(col("b"), 1L).otherwise(0L)).over(
            byPos.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
      val chunks = flagged.groupBy("doc_id", "source", "chunk_no")
        .agg(count(lit(1)).as("clen"),
          array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w")), " ").as("cstr"))
      chunks.groupBy("source")
        .agg(sum(col("clen")).as("n_tokens"),
          count(lit(1)).as("n_chunks"),
          countDistinct(col("cstr")).as("n_distinct"),
          max(col("clen")).as("max_len"))
        .select(col("source"), col("n_tokens"), col("n_chunks"),
          col("n_distinct"),
          r6(lit(1.0) - col("n_distinct").cast("double") /
            col("n_chunks").cast("double")).as("dup_ratio"),
          r6(col("n_tokens").cast("double") /
            col("n_chunks").cast("double")).as("mean_len"),
          col("max_len"))
        .orderBy("source")
    },
    Some {
      val h = "CAST(('0x' || substr(md5(w3 || '#' || w2 || '#' || w1 " +
        "|| '#' || w), 1, 15)) AS BIGINT)"
      s"""
      WITH t AS (
        SELECT doc_id, source, lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      ts AS (SELECT doc_id, source, string_split(nt, ' ') AS l FROM t),
      tok AS (
        SELECT doc_id, source, CAST(i - 1 AS BIGINT) AS pos,
               list_extract(l, i) AS w
        FROM ts, unnest(range(1, len(l) + 1)) AS u(i)),
      fl AS (
        SELECT doc_id, source, pos, w,
               CASE WHEN pos = 0 THEN TRUE
                    WHEN pos >= 3 AND ($h) % 64 < 8 THEN TRUE
                    ELSE FALSE END AS b
        FROM (SELECT doc_id, source, pos, w,
                     lag(w, 1) OVER win AS w1, lag(w, 2) OVER win AS w2,
                     lag(w, 3) OVER win AS w3
              FROM tok
              WINDOW win AS (PARTITION BY doc_id ORDER BY pos))),
      cn AS (
        SELECT doc_id, source, pos, w,
               sum(CASE WHEN b THEN 1 ELSE 0 END) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS chunk_no
        FROM fl),
      ch AS (
        SELECT doc_id, source, chunk_no,
               CAST(count(*) AS BIGINT) AS clen,
               array_to_string(list(w ORDER BY pos), ' ') AS cstr
        FROM cn GROUP BY 1, 2, 3)
      SELECT source, CAST(sum(clen) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(count(DISTINCT cstr) AS BIGINT) AS n_distinct,
             ${sqlR6("1e0 - CAST(count(DISTINCT cstr) AS DOUBLE)" +
        " / CAST(count(*) AS DOUBLE)")} AS dup_ratio,
             ${sqlR6("CAST(sum(clen) AS DOUBLE)" +
        " / CAST(count(*) AS DOUBLE)")} AS mean_len,
             CAST(max(clen) AS BIGINT) AS max_len
      FROM ch GROUP BY 1 ORDER BY 1"""
    }
  )

  /** Cohen's kappa (1960) for the language-ID classifier against the
    * labeled truth — the chance-corrected agreement figure a labeling
    * pipeline reports next to raw accuracy (q_t_lang_confusion shows the
    * cells; kappa collapses them to one calibrated score). Observed
    * agreement and the marginal products are exact integer counts, so
    * κ = (p_o − p_e)/(1 − p_e) is four IEEE ops on identical operands.
    * Two count aggregates + one broadcast join of the label marginals.
    */
  val tKappa = QueryDef(
    "q_t_kappa",
    (s, dir) => {
      val scored = TextAnalysis.withLangId(t(s, dir, "documents"))
        .select(col("lang"), col("lang_pred"))
      val n = scored.agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L))
          .as("n_agree"))
      val rows = scored.groupBy("lang").agg(count(lit(1)).as("rk"))
      val cols = scored.groupBy("lang_pred").agg(count(lit(1)).as("ck"))
      val marg = rows.join(cols, col("lang") === col("lang_pred"))
        .agg(sum(col("rk") * col("ck")).as("s_marg"))
      val po = col("n_agree").cast("double") / col("n_docs").cast("double")
      val pe = col("s_marg").cast("double") /
        (col("n_docs") * col("n_docs")).cast("double")
      n.crossJoin(broadcast(marg))
        .select(col("n_docs"), col("n_agree"), col("s_marg"),
          r6(po).as("accuracy"), r6(pe).as("p_chance"),
          r6((po - pe) / (lit(1.0) - pe)).as("kappa"))
    },
    Some {
      val langs = TextAnalysis.LangMarkers.keys.toSeq.sorted
      def score(l: String) = TextAnalysis.LangMarkers(l).map(w =>
        s"len(regexp_extract_all(' ' || lower($sqlNorm) || ' ', ' $w ', 0))")
        .mkString(" + ")
      val scoreCols = langs.map(l => s"(${score(l)}) AS s_$l").mkString(", ")
      val caseChain = langs.map(l =>
        s"WHEN ${langs.map(o => s"s_$l >= s_$o").mkString(" AND ")} THEN '$l'")
        .mkString(" ")
      val po = "CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)"
      val pe = "CAST(s_marg AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)"
      s"""
      WITH s AS (SELECT doc_id, lang, $scoreCols FROM documents),
      p AS (SELECT lang, CASE $caseChain END AS lang_pred FROM s),
      n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_agree
        FROM p),
      rk AS (SELECT lang, count(*) AS rk FROM p GROUP BY 1),
      ck AS (SELECT lang_pred, count(*) AS ck FROM p GROUP BY 1),
      mg AS (
        SELECT CAST(sum(rk * ck) AS BIGINT) AS s_marg
        FROM rk JOIN ck ON ck.lang_pred = rk.lang)
      SELECT n_docs, n_agree, s_marg,
             ${sqlR6(po)} AS accuracy, ${sqlR6(pe)} AS p_chance,
             ${sqlR6(s"(($po) - ($pe)) / (1e0 - ($pe))")} AS kappa
      FROM n CROSS JOIN mg"""
    }
  )

  /** End-to-end preprocessing FUNNEL audit — the per-stage doc/token
    * accounting every curation run publishes (the C4/RefinedWeb table:
    * how much survived each filter): raw → language filter (en) →
    * quality filter (≥20 tokens, mean word length in [2,12] — spelled
    * as INTEGER bounds nosp ∈ [2·tk, 12·tk], no division) → exact
    * dedup (keep min doc_id per md5 fingerprint). Every stage is a
    * deterministic predicate over exact integers, so the funnel is
    * bit-exact; each stage is one filter over the same scan, the dedup
    * stage one hash shuffle — the whole audit is a single pass plus
    * four bounded aggregates.
    */
  val tFunnel = QueryDef(
    "q_t_pipeline_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .withColumn("tk", size(split(col("nt"), " ")).cast("long"))
        .withColumn("nosp", (length(col("nt")) - (col("tk") - 1))
          .cast("long"))
      val s2 = base.filter(col("lang") === "en")
      val s3 = s2.filter(col("tk") >= 20 &&
        col("nosp") >= col("tk") * 2 && col("nosp") <= col("tk") * 12)
      val s4 = s3.withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("nt"))).orderBy("doc_id")))
        .filter(col("rn") === 1)
      def stage(df: org.apache.spark.sql.DataFrame, i: Int,
          name: String) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"))
          .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), col("n_tokens"))
      stage(base, 1, "raw")
        .unionByName(stage(s2, 2, "lang_en"))
        .unionByName(stage(s3, 3, "quality"))
        .unionByName(stage(s4, 4, "exact_dedup"))
        .orderBy("stage")
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, lang, lower($sqlNorm) AS nt FROM documents
        WHERE length($sqlNorm) > 0),
      f AS (
        SELECT doc_id, lang, nt,
               CAST(len(string_split(nt, ' ')) AS BIGINT) AS tk,
               CAST(length(nt) - (len(string_split(nt, ' ')) - 1)
                 AS BIGINT) AS nosp
        FROM base),
      s2 AS (SELECT * FROM f WHERE lang = 'en'),
      s3 AS (SELECT * FROM s2 WHERE tk >= 20
             AND nosp >= 2 * tk AND nosp <= 12 * tk),
      s4 AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(nt)
            ORDER BY doc_id) AS rn FROM s3)
        WHERE rn = 1)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tk) AS BIGINT) AS n_tokens FROM f
        UNION ALL
        SELECT 2, 'lang_en', CAST(count(*) AS BIGINT),
               CAST(sum(tk) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'quality', CAST(count(*) AS BIGINT),
               CAST(sum(tk) AS BIGINT) FROM s3
        UNION ALL
        SELECT 4, 'exact_dedup', CAST(count(*) AS BIGINT),
               CAST(sum(tk) AS BIGINT) FROM s4)
      ORDER BY stage""")
  )

  /** Bigram language-model scoring — the CONDITIONAL upgrade of
    * q_t_lm_score's unigram model (CCNet's KenLM shape at n=2):
    * per-token add-one log P(w₂|w₁) = ln((c(w₁w₂)+1)/(c(w₁)+V)),
    * averaged per doc with the decimal order-independent mean. Same
    * determinism contract as lm_score/tf-idf: identical ln inputs both
    * engines, avgE18 kills reduction order. Shapes: one lead window for
    * bigrams, vocabulary-bounded count joins, a 1-row broadcast for V —
    * never corpus × corpus.
    */
  val tBigramLm = QueryDef(
    "q_t_bigram_lm",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          lower(TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("doc_id"), posexplode(split(col("nt"), " "))
          .as(Seq("pos", "w")))
      val big = toks
        .withColumn("w2", lead(col("w"), 1).over(
          Window.partitionBy("doc_id").orderBy("pos")))
        .filter(col("w2").isNotNull)
        .select("doc_id", "w", "w2")
      val c1 = toks.groupBy("w").agg(count(lit(1)).as("c1"))
      val c2 = big.groupBy("w", "w2").agg(count(lit(1)).as("c2"))
      val v = broadcast(c1.agg(count(lit(1)).as("vv")))
      val lp = big.join(c2, Seq("w", "w2")).join(c1, Seq("w"))
        .crossJoin(v)
        .select(col("doc_id"),
          log((col("c2") + 1).cast("double") /
            (col("c1") + col("vv")).cast("double")).as("lp"))
      val per = lp.groupBy("doc_id")
        .agg(avgE18(col("lp")).as("bg"), count(lit(1)).as("n_bigrams"))
      t(s, dir, "documents").select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), r6(col("bg")).as("bigram_logprob"),
          col("n_bigrams"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNorm) AS nt
        FROM documents WHERE length($sqlNorm) > 0),
      tok AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               list_extract(l, i) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS l FROM t),
             unnest(range(1, len(l) + 1)) AS u(i)),
      big AS (
        SELECT doc_id, w, w2 FROM (
          SELECT doc_id, w, lead(w, 1) OVER (PARTITION BY doc_id
            ORDER BY pos) AS w2
          FROM tok)
        WHERE w2 IS NOT NULL),
      c1 AS (SELECT w, count(*) AS c1 FROM tok GROUP BY 1),
      c2 AS (SELECT w, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
      vv AS (SELECT count(*) AS vv FROM c1),
      lp AS (
        SELECT big.doc_id,
               ln((c2 + 1) / CAST(c1 + vv AS DOUBLE)) AS lp
        FROM big JOIN c2 USING (w, w2) JOIN c1 USING (w) CROSS JOIN vv),
      per AS (
        SELECT doc_id, ${sqlAvgE18("lp")} AS bg,
               count(*) AS n_bigrams
        FROM lp GROUP BY 1)
      SELECT d.doc_id, ${sqlR6("bg")} AS bigram_logprob,
             CAST(n_bigrams AS BIGINT) AS n_bigrams
      FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
      ORDER BY d.doc_id""")
  )

  /** Training-shard manifest — the LAST step of a curation pipeline:
    * deterministic content-hash sharding (shard = md5-60(text) mod 16,
    * so assignment is reproducible across reruns and clusters — never
    * row order or task id) plus the per-shard manifest a trainer
    * validates against: doc/char counts, id range, and an
    * order-independent content checksum (Σ fingerprints as exact
    * decimal). One shuffle on shard id; at 100 TB each shard group IS
    * the write task for its output file.
    */
  val tShards = QueryDef(
    "q_t_shards",
    (s, dir) => {
      import graft.functions.Md5Prefix60.md5Prefix60
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          md5Prefix60(col("text")).as("fp"))
        .withColumn("shard", pmod(col("fp"), lit(16L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
          decD(sum(col("fp").cast("decimal(38,0)"))).as("checksum"))
        .orderBy("shard")
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp
        FROM documents),
      g AS (
        SELECT fp % 16 AS shard, doc_id, n_chars, fp FROM f)
      SELECT shard, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc,
             ${sqlDecD("CAST(sum(CAST(fp AS DECIMAL(38,0))) AS DECIMAL(38,0))")}
               AS checksum
      FROM g GROUP BY 1 ORDER BY 1""")
  )

  /** Lexical-diversity profile per language: per-document type/token ratio
    * and hapax-legomena ratio (share of words occurring exactly once in the
    * doc), aggregated per lang. TTR is the classic repetitive-boilerplate
    * detector that complements q_t_repetition's n-gram view: machine-
    * generated or template text has LOW ttr. Counts are exact integers;
    * each per-doc ratio is one pinned double, averaged with the exact
    * decimal mean so group order can't perturb the result. Explode→two
    * groupBys, all map-side combinable.
    */
  val tTtr = QueryDef(
    "q_t_ttr",
    (s, dir) => {
      val perTok = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "lang", "tok")
        .agg(count(lit(1)).as("c"))
      val perDoc = perTok.groupBy("doc_id", "lang")
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          r6(avgE18(col("n_types").cast("double")
            / col("n_tokens").cast("double"))).as("avg_ttr"),
          r6(avgE18(col("n_hapax").cast("double")
            / col("n_tokens").cast("double"))).as("avg_hapax"))
        .orderBy("lang")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      pt AS (
        SELECT doc_id, lang, tok, count(*) AS c
        FROM tok WHERE tok <> '' GROUP BY 1, 2, 3),
      pd AS (
        SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax
        FROM pt GROUP BY 1, 2)
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             ${sqlR6(sqlAvgE18(
      "CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))} AS avg_ttr,
             ${sqlR6(sqlAvgE18(
      "CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE)"))} AS avg_hapax
      FROM pd GROUP BY 1 ORDER BY 1""")
  )

  /** Gopher-style quality-gate audit (Rae et al. 2021 §A1.1 adapted to
    * this corpus): five per-document rules — too short, too long, mean
    * word length out of band, no stopwords, dominated by one repeated
    * token — counted corpus-wide plus the clean-document rate. All rule
    * predicates compare exact integers or single pinned ratios, so the
    * audit is bit-stable; one explode + two aggregations, every stage
    * map-side combinable. This is the FILTER an LLM-data pipeline runs
    * ahead of dedup; the counters are its monitoring feed.
    */
  val tGopher = QueryDef(
    "q_t_gopher",
    (s, dir) => {
      val pt = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      val pd = pt.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          sum(length(col("tok")) * col("c")).as("sum_len"),
          max(col("c")).as("max_c"),
          sum(when(col("tok").isin(
            graft.text.TextAnalysis.Stopwords: _*), col("c"))
            .otherwise(0L)).as("n_stop"))
      val meanLen = col("sum_len").cast("double") /
        col("n_tokens").cast("double")
      val maxShare = col("max_c").cast("double") /
        col("n_tokens").cast("double")
      val flagged = pd.select(
        when(col("n_tokens") < 30L, 1L).otherwise(0L).as("f_short"),
        when(col("n_tokens") > 90L, 1L).otherwise(0L).as("f_long"),
        when(meanLen < lit(3.8) || meanLen > lit(5.0), 1L).otherwise(0L)
          .as("f_wordlen"),
        when(col("n_stop") < 1L, 1L).otherwise(0L).as("f_nostop"),
        when(maxShare > lit(0.2), 1L).otherwise(0L).as("f_repeat"))
        .withColumn("f_any",
          when(col("f_short") + col("f_long") + col("f_wordlen")
            + col("f_nostop") + col("f_repeat") > 0L, 1L).otherwise(0L))
      flagged.agg(count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_short"), sum(col("f_long")).as("n_long"),
        sum(col("f_wordlen")).as("n_wordlen"),
        sum(col("f_nostop")).as("n_nostop"),
        sum(col("f_repeat")).as("n_repeat"), sum(col("f_any")).as("n_dirty"))
        .select(col("n_docs"), col("n_short"), col("n_long"),
          col("n_wordlen"), col("n_nostop"), col("n_repeat"),
          (col("n_docs") - col("n_dirty")).as("n_clean"),
          r6((col("n_docs") - col("n_dirty")).cast("double")
            / col("n_docs").cast("double")).as("pct_clean"))
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      pt AS (
        SELECT doc_id, tok, count(*) AS c
        FROM tok WHERE tok <> '' GROUP BY 1, 2),
      pd AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(length(tok) * c) AS BIGINT) AS sum_len,
               max(c) AS max_c,
               CAST(sum(CASE WHEN tok IN (${graft.text.TextAnalysis
      .Stopwords.map(w => s"'$w'").mkString(", ")})
                 THEN c ELSE 0 END) AS BIGINT) AS n_stop
        FROM pt GROUP BY 1),
      f AS (
        SELECT
          CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END AS f_short,
          CASE WHEN n_tokens > 90 THEN 1 ELSE 0 END AS f_long,
          CASE WHEN CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 < 3.8e0
                OR CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 > 5e0
            THEN 1 ELSE 0 END AS f_wordlen,
          CASE WHEN n_stop < 1 THEN 1 ELSE 0 END AS f_nostop,
          CASE WHEN CAST(max_c AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 > 0.2e0
            THEN 1 ELSE 0 END AS f_repeat
        FROM pd)
      SELECT count(*) AS n_docs,
             CAST(sum(f_short) AS BIGINT) AS n_short,
             CAST(sum(f_long) AS BIGINT) AS n_long,
             CAST(sum(f_wordlen) AS BIGINT) AS n_wordlen,
             CAST(sum(f_nostop) AS BIGINT) AS n_nostop,
             CAST(sum(f_repeat) AS BIGINT) AS n_repeat,
             count(*) - CAST(sum(CASE WHEN f_short + f_long + f_wordlen
               + f_nostop + f_repeat > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean,
             ${sqlR6("""CAST(count(*) - sum(CASE WHEN f_short + f_long
                 + f_wordlen + f_nostop + f_repeat > 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(count(*) AS DOUBLE)""")} AS pct_clean
      FROM f""")
  )

  /** End-to-end mixture-assembly pipeline — the composed twin on the
    * SELECTION side of training-data prep (q_pipeline_e2e composes the
    * cleaning side): sqrt-share mixture weights allocate a 50%-of-corpus
    * token budget per source → a content-addressed deterministic order
    * (portable md5-60 of doc_id, the q_t_split/q_t_wsample mechanism)
    * fixes WHICH docs fill each source's budget via a per-source running
    * sum → survivors pack into 2048-token contiguous bins
    * (text.Packing) → a per-source manifest audits selection and packing.
    * Budgets are floors of an IEEE-identical double chain (exact-decimal
    * Σ√tokens normalizer), every gate compare is integer vs integer, and
    * the one ratio is r6 of an exact rational — bit-exact throughout.
    *
    * Scale: the running sums are SequenceOps range-partitioned prefix
    * scans (low-cardinality `source` groups would serialize under
    * Window.partitionBy); budgets/totals are 1-row broadcast aggregates;
    * packing shuffles once on the range keys. Nothing is all-pairs and no
    * driver loop touches data scale.
    */
  val tPackE2e = QueryDef(
    "q_pipeline_pack_e2e",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(col("text")).as("tk"))
        .filter(col("tk") > 0)
      val cells = docs.groupBy("source").agg(sum("tk").as("n_tokens"))
      val tot = broadcast(cells.agg(
        sum(col("n_tokens")).as("tot"),
        sum(sqrt(col("n_tokens").cast("double")).cast("decimal(38,18)"))
          .cast("double").as("wsum")))
      val budgets = cells.crossJoin(tot)
        .select(col("source"), col("n_tokens"),
          floor(sqrt(col("n_tokens").cast("double")) / col("wsum")
            * (col("tot").cast("double") * 0.5)).cast("long").as("budget"))
      val keyed = docs.withColumn("skey",
        graft.functions.Md5Prefix60.md5Prefix60(col("doc_id")))
      val cum = graft.plans.SequenceOps.runningSum(
        keyed, Seq("source"), Seq("skey", "doc_id"), "tk", "cum")
      val sel = cum
        .join(broadcast(budgets.select("source", "budget")), Seq("source"))
        .filter(col("cum") <= col("budget"))
      val packed = graft.text.Packing.contiguousBins(
        sel.select("doc_id", "source", "tk"), "doc_id", "tk", 2048L)
        .localCheckpoint(true)
      val packStats = broadcast(packed.agg(
        (max(col("bin")) + 1).as("total_bins"),
        sum("tk").as("packed_tokens")))
      packed.groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum("tk").as("sel_tokens"),
          count_distinct(col("bin")).as("bins_touched"))
        .join(broadcast(budgets), Seq("source"))
        .crossJoin(packStats)
        .select(col("source"), col("n_tokens"), col("budget"),
          col("n_sel"), col("sel_tokens"), col("bins_touched"),
          col("total_bins"), col("packed_tokens"),
          r6(col("sel_tokens").cast("double") / col("budget").cast("double"))
            .as("fill_ratio"))
        .orderBy("source")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source, CAST($sqlWsTokens AS BIGINT) AS tk
        FROM documents WHERE $sqlWsTokens > 0),
      cells AS (SELECT source, CAST(sum(tk) AS BIGINT) AS n_tokens
                FROM d GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
               CAST(sum(CAST(sqrt(CAST(n_tokens AS DOUBLE))
                 AS DECIMAL(38,18))) AS DOUBLE) AS wsum
        FROM cells),
      budgets AS (
        SELECT source, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) / wsum
                 * (CAST(tot AS DOUBLE) * 0.5e0)) AS BIGINT) AS budget
        FROM cells, tot),
      keyed AS (
        SELECT d.*, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
          1, 15)) AS BIGINT) AS skey
        FROM d),
      cum AS (
        SELECT *, CAST(sum(tk) OVER (PARTITION BY source
          ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM keyed),
      sel AS (
        SELECT cum.* FROM cum JOIN budgets USING (source)
        WHERE c <= budget),
      packed AS (
        SELECT doc_id, source, tk,
               (CAST(sum(tk) OVER (ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - tk) // 2048 AS bin
        FROM sel),
      stats AS (
        SELECT CAST(max(bin) + 1 AS BIGINT) AS total_bins,
               CAST(sum(tk) AS BIGINT) AS packed_tokens
        FROM packed)
      SELECT source, n_tokens, budget, count(*) AS n_sel,
             CAST(sum(tk) AS BIGINT) AS sel_tokens,
             CAST(count(DISTINCT bin) AS BIGINT) AS bins_touched,
             total_bins, packed_tokens,
             ${sqlR6("CAST(sum(tk) AS DOUBLE) / CAST(budget AS DOUBLE)")}
               AS fill_ratio
      FROM packed JOIN budgets USING (source), stats
      GROUP BY source, n_tokens, budget, total_bins, packed_tokens
      ORDER BY source""")
  )

  val all: Seq[QueryDef] =
    Seq(tQuality, tTokens, tFingerprint, tLangId, tExplode,
      tRepetition, tLmScore, tSplit, tStratSample, tTfIdf, tPmi,
      tPii, tVocab, tComposition, tPack, tShuffle, tDecontaminate,
      tLineDedup, tBm25, tBm25Persist, tBm25Append, tBm25Delete,
      tBm25OccMaint, tBm25StreamIngest, tDsir,
      tWsample,
      tVocabOverlap, tMixture, tJsd,
      tFeatHash, tDupSpans, tZipf, tLangConfusion, tBpeStep, tBpeTrain5,
      tBpeEncode, tBleu, tChunkOverlap, tRrf, tRbo, tTempMixture, tRouge,
      tTokenBudget, tCdcChunks, tKappa, tFunnel, tBigramLm, tShards, tTtr,
      tGopher, tPackE2e)
}
