package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Dirs

import QueryDef._
import graft.dedup.Dedup

/** Dedup twins over the `documents` table (builder brief). The exact and
  * n-gram-Jaccard paths are SQL-expressible → oracle-checked directly.
  * MinHash+LSH, SimHash, and embedding near-dup use engine-specific hashing
  * (xxhash64 / seeded hyperplanes) that DuckDB can't recompute — but it CAN
  * re-derive everything downstream of the hashes: Verify dumps the
  * Spark-computed shingles / band buckets / signatures under
  * `<outDir>/_aux/`, and the oracles replay the banding join + exact
  * verification (Jaccard / bit_count hamming / list dot product) in SQL
  * from those tables. Only the hash values themselves go unchecked (they
  * are pinned by unit specs instead).
  */
object DedupCatalog {

  import org.apache.spark.sql.{DataFrame, SparkSession}

  // Shared parameters, interpolated into BOTH the Spark calls and the
  // oracle SQL so the aux dumps can never drift from the catalog queries.
  private val ShingleN = 3
  private val JaccardThreshold = 0.3
  private val MaxShingleFreq = 100
  private val NumPerm = 32
  private val MinHashBands = 8
  private val SimChunks = 4
  private val SimChunkWidth = 64 / SimChunks
  private val SimChunkMask = (1L << SimChunkWidth) - 1
  private val SimMaxHamming = 12
  private val EmbedBits = 64
  private val EmbedBands = 8
  private val EmbedBandBits = EmbedBits / EmbedBands
  private val EmbedBandMask = (1L << EmbedBandBits) - 1
  private val EmbedThreshold = 0.95
  // testdata embeddings are 64-dim at every SF; passing the known dim lets
  // embeddingSignatures skip its driver-side first() dimension-probe job
  private val EmbedDim = 64
  private val PlantShift = 1000000
  // SemDeDup cell count: Σ|cell|² pair work scales as n²/cells, so cells
  // grows with the corpus (≈√n rule); 256 keeps the sf0.1 pair stage ~10M
  private val SemCells = 256

  /** Spark-computed intermediates the LSH oracles replay; Verify writes
    * each to the `<outDir>_auxdata/<name>` sibling dir and rewrites the
    * oracle SQL's `__VERIFY_OUT__/_aux` prefix to it. Parameters are the
    * shared constants above — the same values the catalog queries pass.
    */
  val auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_shingles" -> ((s, dir) =>
      Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = ShingleN)),
    "minhash_buckets" -> ((s, dir) =>
      Dedup.minHashBuckets(
        Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = ShingleN),
        numPerm = NumPerm, bands = MinHashBands)),
    "simhash_sigs" -> ((s, dir) =>
      Dedup.simHash(t(s, dir, "documents"), "doc_id", "text")),
    "embed_sigs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.unionByName(
        e.select((col("vec_id") + PlantShift).as("vec_id"), col("embedding")))
      Dedup.embeddingSignatures(planted, "vec_id", "embedding",
        numBits = EmbedBits, dim = EmbedDim)
    }),
    // SemDeDup coarse quantizer over the SAME planted corpus the gated
    // query dedups — Ann.hashCentroids' decimal-sum training makes these
    // bit-identical to the centroids the query trains independently
    "sem_centroids" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.unionByName(
        e.select((col("vec_id") + PlantShift).as("vec_id"), col("embedding")))
      graft.similarity.Ann.normalizeCentroids(
          graft.similarity.Ann.hashCentroids(planted, "vec_id", "embedding",
            SemCells))
        .map { case (cell, c) => (cell, c.toSeq) }
        .toDF("cell", "c")
    }))

  // collapse-then-trim, mirroring TextAnalysis.normText (see TextCatalog)
  private val sqlNorm =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Exact dedup over a deliberately doubled corpus (documents ∪ shifted
    * copy) — every group has exactly one keeper and two copies.
    */
  val dExact = QueryDef(
    "q_d_exact",
    (s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val doubled = d.unionByName(
        d.select((col("doc_id") + PlantShift).as("doc_id"), col("text")))
      Dedup.exactGroups(doubled, "doc_id", "text")
        .orderBy("keep_id")
        .select("fp", "keep_id", "n_copies")
    },
    Some(s"""
      WITH doubled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + $PlantShift, text FROM documents),
      g AS (
        SELECT md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM doubled GROUP BY 1)
      SELECT fp, keep_id, n_copies FROM g ORDER BY keep_id""")
  )

  // Shared oracle CTE chain producing the n-gram-Jaccard candidate table
  // (`common` + `sizes`), used by the pair query, the
  // connected-components query, and the e2e funnel so their oracles can
  // never drift. `rel` must expose (doc_id, text); the shingle norm
  // lowercases (mirroring Dedup.shingles) while fingerprint/quality norms
  // do not.
  private def jaccardCtesOn(rel: String) = s"""
      toks AS (
        SELECT doc_id, string_split($sqlNorm, ' ') AS tk FROM $rel),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(tk) - ${ShingleN - 2}),
                 i -> ${(0 until ShingleN).map(k => s"tk[i+$k]").mkString(" || ' ' || ")})) AS shingle
        FROM toks WHERE len(tk) >= $ShingleN),
      rare AS (
        SELECT shingle FROM sh GROUP BY 1
        HAVING count(*) BETWEEN 2 AND $MaxShingleFreq),
      shf AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        FROM shf a JOIN shf b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""

  private val jaccardCtes = jaccardCtesOn("documents")

  /** n-gram Jaccard near-dup pairs (3-gram shingles, J ≥ 0.3, shingle
    * document-frequency cap 100).
    */
  val dJaccard = QueryDef(
    "q_d_ngram_jaccard",
    (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = ShingleN, threshold = JaccardThreshold,
          maxShingleFreq = MaxShingleFreq)
        .select(col("id1"), col("id2"), r6(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH $jaccardCtes
      SELECT id1, id2,
             ${sqlR6("c / CAST(s1.sz + s2.sz - c AS DOUBLE)")} AS jaccard
      FROM common
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold
      ORDER BY id1, id2""")
  )

  /** Near-dup CLUSTERS: connected components over the n-gram-Jaccard pair
    * graph (same parameters as q_d_ngram_jaccard), every document labeled
    * with its cluster's minimum doc_id — the production dedup semantics
    * when similarity chains (a~b~c with a!~c must still collapse to one
    * keeper). The oracle recomputes the pairs in SQL and closes them
    * transitively with a recursive CTE, so the distributed label
    * propagation is checked end-to-end against an exact transitive
    * closure.
    */
  val dComponents = QueryDef(
    "q_d_components",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = ShingleN,
        threshold = JaccardThreshold, maxShingleFreq = MaxShingleFreq)
      val comp = Dedup.connectedComponents(pairs, "id1", "id2")
        .withColumnRenamed("id", "doc_id")
      docs.select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("component"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $jaccardCtes,
      pairs AS (
        SELECT id1, id2 FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      walk(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
      comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM walk GROUP BY a)
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
      ORDER BY doc_id""")
  )

  /** MinHash + banded LSH near-dup pairs, verified by exact Jaccard. The
    * oracle replays the band-bucket join and the exact-Jaccard verification
    * in DuckDB from the dumped buckets + shingles (aux tables above).
    */
  val dMinHash = QueryDef(
    "q_d_minhash_lsh",
    (s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          n = ShingleN, numPerm = NumPerm, bands = MinHashBands,
          threshold = JaccardThreshold)
        .select(col("id1"), col("id2"), r6(col("jaccard")).as("jaccard"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH b AS (SELECT * FROM
        read_parquet('__VERIFY_OUT__/_aux/minhash_buckets/*.parquet')),
      sh AS (SELECT * FROM
        read_parquet('__VERIFY_OUT__/_aux/doc_shingles/*.parquet')),
      cand AS (
        SELECT DISTINCT a.id AS id1, b2.id AS id2
        FROM b a JOIN b b2
          ON a.band = b2.band AND a.bh = b2.bh AND a.id < b2.id),
      sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
      common AS (
        SELECT c.id1, c.id2, count(*) AS cn
        FROM cand c
        JOIN sh s1 ON s1.id = c.id1
        JOIN sh s2 ON s2.id = c.id2 AND s2.shingle = s1.shingle
        GROUP BY 1, 2)
      SELECT id1, id2,
             ${sqlR6("cn / CAST(z1.sz + z2.sz - cn AS DOUBLE)")} AS jaccard
      FROM common
      JOIN sizes z1 ON z1.id = id1
      JOIN sizes z2 ON z2.id = id2
      WHERE cn / CAST(z1.sz + z2.sz - cn AS DOUBLE) >= $JaccardThreshold
      ORDER BY id1, id2""")
  )

  /** SimHash near-dup pairs (4×16-bit banding, hamming ≤ 12 of 64 bits —
    * approximate recall past hamming 3, see Dedup.simHashPairs). The oracle
    * replays the chunk-banding join and the bit_count(xor) hamming filter
    * from the dumped signatures.
    */
  val dSimHash = QueryDef(
    "q_d_simhash",
    (s, dir) =>
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = SimMaxHamming, chunks = SimChunks)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH s AS (SELECT id, simhash FROM
        read_parquet('__VERIFY_OUT__/_aux/simhash_sigs/*.parquet')),
      c AS (
        SELECT id, simhash, r.i AS chunk,
               (simhash >> (r.i * $SimChunkWidth)) & $SimChunkMask AS cv
        FROM s, range($SimChunks) AS r(i)),
      cand AS (
        SELECT DISTINCT a.id AS id1, b.id AS id2,
               a.simhash AS h1, b.simhash AS h2
        FROM c a JOIN c b
          ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id)
      SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(h1, h2)) <= $SimMaxHamming
      ORDER BY id1, id2""")
  )

  /** Embedding-cosine near-dup pairs via hyperplane LSH over a corpus with
    * planted duplicates (the synthetic embeddings are well-separated — max
    * pairwise cosine 0.51 — so a copy with shifted ids provides the
    * realistic ≥0.95 near-dup regime). The oracle replays the 8×8-bit
    * banding join and the exact-cosine verification (both engines fold the
    * dot product over the pre-normalized vectors sequentially in double)
    * from the dumped signatures.
    */
  val dEmbed = QueryDef(
    "q_d_embed_neardup",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.unionByName(
        e.select((col("vec_id") + PlantShift).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDups(planted, "vec_id", "embedding",
          threshold = EmbedThreshold, numBits = EmbedBits, bands = EmbedBands,
          dim = EmbedDim)
        .select(col("id1"), col("id2"), r6(col("cos")).as("cos"))
        .orderBy("id1", "id2")
    },
    // the oracle re-derives the L2 normalization from the dumped RAW
    // vectors (sequential double sum, like the Spark fold) — vn is dumped
    // too but unused here, so only the plane hashes themselves go untested
    Some(s"""
      WITH s AS (
        SELECT id, sig,
               list_transform(v, x ->
                 x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS vn
        FROM read_parquet('__VERIFY_OUT__/_aux/embed_sigs/*.parquet')),
      c AS (
        SELECT id, r.i AS chunk,
               (sig >> (r.i * $EmbedBandBits)) & $EmbedBandMask AS cv
        FROM s, range($EmbedBands) AS r(i)),
      cand AS (
        SELECT DISTINCT a.id AS id1, b.id AS id2
        FROM c a JOIN c b
          ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id),
      scored AS (
        SELECT id1, id2,
               list_sum(list_transform(list_zip(s1.vn, s2.vn),
                 p -> p[1] * p[2])) AS cos
        FROM cand
        JOIN s s1 ON s1.id = cand.id1
        JOIN s s2 ON s2.id = cand.id2)
      SELECT id1, id2, ${sqlR6("cos")} AS cos
      FROM scored WHERE cos >= $EmbedThreshold
      ORDER BY id1, id2""")
  )

  /** Dedup audit table: per near-dup cluster, its representative (min
    * doc_id) and member count — the number a curation run reports per
    * cluster before pruning. Same pair graph and closure as
    * q_d_components, aggregated per component.
    */
  val dClusterSizes = QueryDef(
    "q_d_cluster_sizes",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = ShingleN,
        threshold = JaccardThreshold, maxShingleFreq = MaxShingleFreq)
      Dedup.connectedComponents(pairs, "id1", "id2")
        .groupBy("comp").agg(count(lit(1)).as("n_members"))
        .select(col("comp").as("component"), col("n_members"))
        .orderBy("component")
    },
    Some(s"""
      WITH RECURSIVE $jaccardCtes,
      pairs AS (
        SELECT id1, id2 FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      walk(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
      comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM walk GROUP BY a)
      SELECT component, count(*) AS n_members
      FROM comp GROUP BY 1 ORDER BY 1""")
  )

  /** SemDeDup-style semantic dedup: coarse-quantize the (planted) embedding
    * corpus into `SemCells` cells, verify cosine ≥ threshold ONLY within
    * each cell. The oracle replays the ENTIRE operator from the dumped
    * centroids and the raw vectors: nearest-centroid assignment (argmax of
    * the same sequential dot fold, first-max tie-break = lowest cell),
    * within-cell pairing, L2 normalization, and the cosine verification —
    * only the quantizer's hash-seeded initial partition rides the dump.
    */
  val dSemantic = QueryDef(
    "q_d_semantic",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.unionByName(
        e.select((col("vec_id") + PlantShift).as("vec_id"), col("embedding")))
      graft.dedup.SemDedup.semanticPairs(planted, "vec_id", "embedding",
          nCells = SemCells, threshold = EmbedThreshold)
        .select(col("id1"), col("id2"), r6(col("cos")).as("cos"))
        .orderBy("id1", "id2")
    },
    Some(s"""
      WITH cents AS (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/sem_centroids/*.parquet')),
      corpus AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        UNION ALL
        SELECT vec_id + $PlantShift,
               list_transform(embedding, x -> CAST(x AS DOUBLE))
        FROM embeddings),
      scoredc AS (
        SELECT corpus.id, corpus.v, cents.cell,
               list_sum(list_transform(list_zip(corpus.v, cents.c),
                 p -> p[1] * p[2])) AS s
        FROM corpus CROSS JOIN cents),
      assigned AS (
        SELECT id, v, cell FROM (
          SELECT id, v, cell,
                 row_number() OVER (PARTITION BY id
                   ORDER BY s DESC, cell) AS rn
          FROM scoredc)
        WHERE rn = 1),
      vn AS (
        SELECT id, cell,
               list_transform(v, x ->
                 x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS vn
        FROM assigned),
      pairs AS (
        SELECT a.id AS id1, b.id AS id2,
               list_sum(list_transform(list_zip(a.vn, b.vn),
                 p -> p[1] * p[2])) AS cos
        FROM vn a JOIN vn b ON a.cell = b.cell AND a.id < b.id)
      SELECT id1, id2, ${sqlR6("cos")} AS cos
      FROM pairs WHERE cos >= $EmbedThreshold
      ORDER BY id1, id2""")
  )

  // q_d_fuzzy parameters — shared by the Spark call and the oracle SQL
  private val FuzzyMaxDist = 4

  /** Blocked fuzzy entity resolution over part names (dedup.FuzzyMatch):
    * candidates only within (p_brand, first name token), verified by
    * levenshtein ∈ [1, $FuzzyMaxDist]. Distances are exact integers in
    * both engines (classic edit distance), so the gate needs no rounding;
    * the top-25 by (dist, id1, id2) is a total order.
    */
  val dFuzzy = QueryDef(
    "q_d_fuzzy",
    (s, dir) =>
      graft.dedup.FuzzyMatch.pairs(
        t(s, dir, "part"),
        idCol = "p_partkey", nameCol = "p_name",
        blockCols = Seq(col("p_brand"), split(col("p_name"), " ").getItem(0)),
        maxDist = FuzzyMaxDist)
        .orderBy("dist", "id1", "id2")
        .limit(25),
    Some(s"""
      WITH p AS (
        SELECT p_partkey, p_name, p_brand,
               split_part(p_name, ' ', 1) AS tok
        FROM part),
      c AS (
        SELECT a.p_partkey AS id1, b.p_partkey AS id2,
               a.p_name AS name1, b.p_name AS name2,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.tok = b.tok
            AND a.p_partkey < b.p_partkey)
      SELECT id1, id2, name1, name2, dist
      FROM c WHERE dist BETWEEN 1 AND $FuzzyMaxDist
      ORDER BY dist, id1, id2 LIMIT 25""")
  )

  // q_d_containment threshold, shared by both engines
  private val ContainThreshold = 0.6

  /** Containment near-dup pairs (Dedup.containmentPairs): the ASYMMETRIC
    * dedup test |A∩B| / min(|A|,|B|) over the exact capped shingle sets —
    * catches a short document embedded whole inside a longer one, which
    * symmetric Jaccard misses (quoted-article-inside-crawl-page). Same
    * shingle machinery, candidate bound, and oracle CTEs as
    * q_d_ngram_jaccard; only the final score and threshold differ.
    */
  val dContainment = QueryDef(
    "q_d_containment",
    (s, dir) =>
      graft.dedup.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id",
          "text", n = ShingleN, threshold = ContainThreshold,
          maxShingleFreq = MaxShingleFreq)
        .select(col("id1"), col("id2"), col("common"),
          r6(col("containment")).as("containment"))
        .orderBy("id1", "id2"),
    Some(s"""
      WITH $jaccardCtes
      SELECT id1, id2, CAST(c AS BIGINT) AS common,
             ${sqlR6("CAST(c AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)")}
               AS containment
      FROM common
      JOIN sizes s1 ON s1.doc_id = id1
      JOIN sizes s2 ON s2.doc_id = id2
      WHERE CAST(c AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)
        >= $ContainThreshold
      ORDER BY id1, id2""")
  )

  // q_d_fellegi m-probabilities (fixed textbook initialization; the EM
  // refinement is an iterative batch job layered on the same score scan)
  private val FsM = Seq(0.95, 0.9, 0.85)

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) over blocked
    * customer pairs — the SCORING layer entity resolution adds on top of
    * q_d_fuzzy's candidate generation: each candidate pair gets a
    * log-likelihood-ratio match weight Σ_k log2(m_k/u_k) over its field
    * agreement vector (disagreement contributes log2((1−m_k)/(1−u_k))).
    * u_k (chance-agreement probability) is estimated from the DATA in one
    * exact integer pass: u = Σ_v c_v(c_v−1) / (N(N−1)) over the field's
    * value counts; m_k is the standard fixed initialization (EM is a loop
    * of this same scan). Candidate volume is block-bounded
    * ((nation × segment) blocks); u-estimation is three tiny value-count
    * aggregates riding a broadcast. log2 on identical doubles is
    * last-ulp-class → r6 guard; everything else is exact integers.
    */
  val dFellegi = QueryDef(
    "q_d_fellegi",
    (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_b"),
        expr("substring(c_name, length(c_name)-1, 2)").as("phx"),
        expr("substring(c_name, length(c_name)-3, 2)").as("cmt_b"))
      val n = c.agg(count(lit(1)).as("n"))
      def u(field: String) =
        c.groupBy(field).agg(count(lit(1)).as("cv"))
          .agg(sum(col("cv") * (col("cv") - 1)).as("num"))
          .select(col("num"))
      val us = u("bal_b").select(col("num").as("u1"))
        .crossJoin(broadcast(u("phx").select(col("num").as("u2"))))
        .crossJoin(broadcast(u("cmt_b").select(col("num").as("u3"))))
        .crossJoin(broadcast(n))
      val pairs = c.as("a").join(c.as("b"),
        col("a.nat") === col("b.nat") && col("a.seg") === col("b.seg") &&
          col("a.id") < col("b.id"))
      def w(agree: org.apache.spark.sql.Column, m: Double,
          uNum: org.apache.spark.sql.Column) = {
        val uP = uNum.cast("double") /
          (col("n") * (col("n") - 1)).cast("double")
        when(agree, log2(lit(m) / uP))
          .otherwise(log2((lit(1.0) - lit(m)) / (lit(1.0) - uP)))
      }
      pairs.crossJoin(broadcast(us))
        .select(col("a.id").as("id1"), col("b.id").as("id2"),
          (col("a.bal_b") === col("b.bal_b")).as("agr_bal"),
          (col("a.phx") === col("b.phx")).as("agr_phone"),
          (col("a.cmt_b") === col("b.cmt_b")).as("agr_cmt"),
          (w(col("a.bal_b") === col("b.bal_b"), FsM(0), col("u1")) +
            w(col("a.phx") === col("b.phx"), FsM(1), col("u2")) +
            w(col("a.cmt_b") === col("b.cmt_b"), FsM(2), col("u3")))
            .as("score"))
        .orderBy(col("score").desc, col("id1"), col("id2"))
        .limit(25)
        .select(col("id1"), col("id2"), col("agr_bal"), col("agr_phone"),
          col("agr_cmt"), r6(col("score")).as("score"))
    },
    Some {
      def uP(k: Int) =
        s"(CAST(u$k AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))"
      def w(agree: String, m: Double, k: Int) =
        s"""CASE WHEN $agree THEN log2(${sqlD(m)} / ${uP(k)})
           ELSE log2((1.0 - ${sqlD(m)}) / (1.0 - ${uP(k)})) END"""
      s"""
      WITH c AS (
        SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_b,
               substr(c_name, length(c_name)-1, 2) AS phx,
               substr(c_name, length(c_name)-3, 2) AS cmt_b
        FROM customer),
      nn AS (SELECT count(*) AS n FROM c),
      u1t AS (SELECT CAST(sum(cv * (cv - 1)) AS BIGINT) AS u1 FROM
        (SELECT bal_b, count(*) AS cv FROM c GROUP BY 1)),
      u2t AS (SELECT CAST(sum(cv * (cv - 1)) AS BIGINT) AS u2 FROM
        (SELECT phx, count(*) AS cv FROM c GROUP BY 1)),
      u3t AS (SELECT CAST(sum(cv * (cv - 1)) AS BIGINT) AS u3 FROM
        (SELECT cmt_b, count(*) AS cv FROM c GROUP BY 1)),
      us AS (SELECT * FROM u1t CROSS JOIN u2t CROSS JOIN u3t
             CROSS JOIN nn),
      p AS (
        SELECT a.id AS id1, b.id AS id2,
               a.bal_b = b.bal_b AS agr_bal,
               a.phx = b.phx AS agr_phone,
               a.cmt_b = b.cmt_b AS agr_cmt,
               (${w("a.bal_b = b.bal_b", FsM(0), 1)})
               + (${w("a.phx = b.phx", FsM(1), 2)})
               + (${w("a.cmt_b = b.cmt_b", FsM(2), 3)}) AS score
        FROM c a JOIN c b
          ON a.nat = b.nat AND a.seg = b.seg AND a.id < b.id
        CROSS JOIN us)
      SELECT id1, id2, agr_bal, agr_phone, agr_cmt,
             ${sqlR6("score")} AS score
      FROM p ORDER BY score DESC, id1, id2 LIMIT 25"""
    }
  )

  /** LSH pipeline audit: banded-MinHash pairs (q_d_minhash_lsh's exact
    * parameters) scored against the exact shingle-scan pairs
    * (q_d_ngram_jaccard's) — the recall/precision readout every
    * production dedup rollout runs before trusting the approximate path
    * over the exact one. The two stages deliberately differ (the exact
    * scan caps shingle document-frequency; LSH verifies on the uncapped
    * sets), so agreement is a real measurement, not an identity. All
    * counts are exact integers; the ratios are single divisions (r6).
    * The oracle recomputes the exact side from raw SQL and replays the
    * LSH side from the dumped buckets/shingles — both inputs
    * independently checked, the audit join checked on top. Scale: the
    * same bounded pair sets as the two parent queries; four 1-row
    * broadcast aggregates.
    */
  val dLshRecall = QueryDef(
    "q_d_lsh_recall",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE materialized shingle table feeds all three stages (exact
      // pairs, LSH banding, candidate verification) — without it each
      // stage re-runs the explode+distinct from scratch (measured 4.3 s
      // → shared-scan at sf0.1)
      val sh = Dedup.shingles(docs, "doc_id", "text", n = ShingleN)
        .localCheckpoint(true)
      val exact = Dedup.jaccardPairsFromShingles(sh,
          threshold = JaccardThreshold, maxShingleFreq = MaxShingleFreq)
        .select("id1", "id2")
      val cand = {
        val buckets =
          Dedup.minHashBuckets(sh, numPerm = NumPerm, bands = MinHashBands)
        buckets.as("a").join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") < col("b.id"))
          .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct()
          .localCheckpoint(true) // reused for n_cand AND verification
      }
      val pred = Dedup.verifyJaccard(cand, sh, JaccardThreshold)
        .select("id1", "id2")
      val nTrue = exact.agg(count(lit(1)).as("n_true"))
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      val nPred = pred.agg(count(lit(1)).as("n_pred"))
      val nTp = exact.join(pred, Seq("id1", "id2"))
        .agg(count(lit(1)).as("n_tp"))
      nTrue.crossJoin(broadcast(nCand)).crossJoin(broadcast(nPred))
        .crossJoin(broadcast(nTp))
        .select(col("n_true"), col("n_cand"), col("n_pred"), col("n_tp"),
          r6(col("n_tp").cast("double") / col("n_true").cast("double"))
            .as("recall"),
          r6(col("n_tp").cast("double") / col("n_pred").cast("double"))
            .as("precision"))
    },
    Some(s"""
      WITH $jaccardCtes,
      exact_p AS (
        SELECT id1, id2 FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold),
      b AS (SELECT * FROM
        read_parquet('__VERIFY_OUT__/_aux/minhash_buckets/*.parquet')),
      shx AS (SELECT * FROM
        read_parquet('__VERIFY_OUT__/_aux/doc_shingles/*.parquet')),
      cand AS (
        SELECT DISTINCT a.id AS id1, b2.id AS id2
        FROM b a JOIN b b2
          ON a.band = b2.band AND a.bh = b2.bh AND a.id < b2.id),
      zs AS (SELECT id, count(*) AS sz FROM shx GROUP BY 1),
      cm AS (
        SELECT c.id1, c.id2, count(*) AS cn
        FROM cand c
        JOIN shx s1 ON s1.id = c.id1
        JOIN shx s2 ON s2.id = c.id2 AND s2.shingle = s1.shingle
        GROUP BY 1, 2),
      pred AS (
        SELECT id1, id2 FROM cm
        JOIN zs z1 ON z1.id = id1
        JOIN zs z2 ON z2.id = id2
        WHERE cn / CAST(z1.sz + z2.sz - cn AS DOUBLE)
          >= $JaccardThreshold),
      cnts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact_p) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
               (SELECT CAST(count(*) AS BIGINT)
                FROM exact_p e JOIN pred p
                  ON p.id1 = e.id1 AND p.id2 = e.id2) AS n_tp)
      SELECT n_true, n_cand, n_pred, n_tp,
             ${sqlR6("CAST(n_tp AS DOUBLE) / CAST(n_true AS DOUBLE)")}
               AS recall,
             ${sqlR6("CAST(n_tp AS DOUBLE) / CAST(n_pred AS DOUBLE)")}
               AS precision
      FROM cnts""")
  )

  /** b-BIT MINWISE HASHING estimator audit (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010 — the storage-shrinking refinement every
    * large-scale MinHash deployment uses: keep only the lowest b bits of
    * each minhash): k=16 portable md5-60 minhashes per doc, b=4 low bits
    * each, collision count c per adjacent-doc pair, and the
    * bias-corrected estimate Ĵ = (c/k − 2⁻ᵇ)/(1 − 2⁻ᵇ) next to the
    * EXACT Jaccard from the shingle tables. Unlike the xxhash64 LSH path
    * (aux-dump replay), the md5-60 minhashes are FULLY recomputable in
    * DuckDB, so this gate checks the hashing itself end to end. All
    * divisors are exact binary fractions (1/16, 15/16) — bit-identical
    * arithmetic. Bounded: doc_id < 100 → ≤50 audited pairs; the perm
    * fanout is k× the DISTINCT shingle table, map-side combined.
    */
  val dBbitMinhash = {
    val K = 16
    val BMask = 16L // 2^4
    QueryDef(
      "q_d_bbit_minhash",
      (s, dir) => {
        import graft.functions.Md5Prefix60.md5Prefix60
        val sh = Dedup.shingles(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "doc_id", "text", ShingleN) // (id, shingle) DISTINCT
        val lb = sh
          .select(col("id"), col("shingle"),
            explode(array((0 until K).map(lit): _*)).as("i"))
          .groupBy("id", "i")
          .agg(min(md5Prefix60(Seq(col("i"), col("shingle")))).as("mh"))
          .select(col("id"), col("i"), pmod(col("mh"), lit(BMask)).as("lb"))
        val coll = lb.filter(pmod(col("id"), lit(2)) === 0)
          .select(col("id").as("id1"), col("i"), col("lb").as("la"))
          .join(lb.filter(pmod(col("id"), lit(2)) === 1)
            .select((col("id") - 1).as("id1"), col("id").as("id2"),
              col("i"), col("lb").as("lbb")), Seq("id1", "i"))
          .groupBy("id1", "id2")
          .agg(sum(when(col("la") === col("lbb"), 1L).otherwise(0L))
            .as("n_coll"))
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        val common = sh.filter(pmod(col("id"), lit(2)) === 0)
          .select(col("id").as("id1"), col("shingle"))
          .join(sh.filter(pmod(col("id"), lit(2)) === 1)
            .select((col("id") - 1).as("id1"), col("shingle")),
            Seq("id1", "shingle"))
          .groupBy("id1").agg(count(lit(1)).as("c"))
        val jHat = (col("n_coll").cast("double") / lit(K.toDouble) -
          lit(0.0625)) / lit(0.9375)
        coll
          .join(common, Seq("id1"), "left")
          .join(sizes.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
          .join(sizes.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
          .select(col("id1"), col("id2"), col("n_coll"),
            r6(jHat).as("j_hat"),
            r6(coalesce(col("c"), lit(0L)).cast("double") /
              (col("sz1") + col("sz2") - coalesce(col("c"), lit(0L)))
                .cast("double")).as("j_exact"))
          .orderBy("id1")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, string_split($sqlNorm, ' ') AS tk
          FROM documents WHERE doc_id < 100),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, len(tk) - ${ShingleN - 2}),
                   i -> ${(0 until ShingleN).map(k => s"tk[i+$k]")
          .mkString(" || ' ' || ")})) AS shingle
          FROM toks WHERE len(tk) >= $ShingleN),
        lb AS (
          SELECT doc_id, i,
                 min(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '#' ||
                   shingle), 1, 15)) AS BIGINT)) % $BMask AS lb
          FROM sh CROSS JOIN (SELECT unnest(range($K)) AS i)
          GROUP BY 1, 2),
        coll AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 CAST(sum(CASE WHEN a.lb = b.lb THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_coll
          FROM (SELECT * FROM lb WHERE doc_id % 2 = 0) a
          JOIN (SELECT * FROM lb WHERE doc_id % 2 = 1) b
            ON b.doc_id = a.doc_id + 1 AND b.i = a.i
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        common AS (
          SELECT a.doc_id AS id1, count(*) AS c
          FROM (SELECT * FROM sh WHERE doc_id % 2 = 0) a
          JOIN sh b ON b.doc_id = a.doc_id + 1 AND b.shingle = a.shingle
          GROUP BY 1)
        SELECT coll.id1, coll.id2, coll.n_coll,
               ${sqlR6(s"(CAST(n_coll AS DOUBLE) / ${K.toDouble}e0" +
          " - 0.0625e0) / 0.9375e0")} AS j_hat,
               ${sqlR6("CAST(coalesce(c, 0) AS DOUBLE) / " +
          "CAST(s1.sz + s2.sz - coalesce(c, 0) AS DOUBLE)")} AS j_exact
        FROM coll
        LEFT JOIN common ON common.id1 = coll.id1
        JOIN sizes s1 ON s1.doc_id = coll.id1
        JOIN sizes s2 ON s2.doc_id = coll.id2
        ORDER BY coll.id1""")
    )
  }

  /** N-GRAM NOVELTY per source — the corpus-freshness audit a data-mixing
    * pipeline runs before adding a new source: of each source's DISTINCT
    * trigram shingles, how many appear in NO other source (its genuinely
    * novel contribution) vs shared vocabulary. One distinct
    * (source, shingle) table (Dedup.shingles keyed by source), one
    * per-shingle source-count aggregation, one join back — exact integer
    * counts, one r6 share.
    */
  val dNgramNovelty = QueryDef(
    "q_d_ngram_novelty",
    (s, dir) => {
      val sh = Dedup.shingles(t(s, dir, "documents"), "source", "text",
        ShingleN) // DISTINCT (source, shingle)
      val spread = sh.groupBy("shingle")
        .agg(countDistinct(col("id")).as("n_sources"))
      sh.join(spread, "shingle")
        .groupBy(col("id").as("source"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("n_sources") === 1, 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("source"), col("n_shingles"), col("n_novel"),
          r6(col("n_novel").cast("double") /
            col("n_shingles").cast("double")).as("novelty"))
        .orderBy("source")
    },
    Some(s"""
      WITH toks AS (
        SELECT source, string_split($sqlNorm, ' ') AS tk FROM documents),
      sh AS (
        SELECT DISTINCT source,
               unnest(list_transform(range(1, len(tk) - ${ShingleN - 2}),
                 i -> ${(0 until ShingleN).map(k => s"tk[i+$k]")
        .mkString(" || ' ' || ")})) AS shingle
        FROM toks WHERE len(tk) >= $ShingleN),
      spread AS (
        SELECT shingle, count(DISTINCT source) AS n_sources
        FROM sh GROUP BY 1)
      SELECT sh.source, count(*) AS n_shingles,
             CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             ${sqlR6("CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 " +
        "ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS novelty
      FROM sh JOIN spread USING (shingle)
      GROUP BY 1 ORDER BY 1""")
  )

  /** DEDUP IMPACT report — the before/after accounting every curation
    * pipeline publishes when it applies exact dedup: per source, how many
    * documents and whitespace tokens survive keep-first dedup
    * (keeper = min doc_id per fingerprint, groups spanning sources) and
    * how many are removed. Same fingerprint (md5 of normalized text) and
    * keep-first semantics as q_d_exact — this gate measures the POLICY's
    * effect, that one gates the mechanism. Exact integers + one r6 share.
    */
  val dDedupImpact = QueryDef(
    "q_d_dedup_impact",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          graft.text.TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.text.TextAnalysis.wsTokenCount(col("text")).as("n_tok"))
      val keepers = docs.groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
      docs.join(keepers, "fp")
        .withColumn("removed", col("doc_id") =!= col("keep_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
          sum(col("n_tok")).as("n_tokens"),
          sum(when(col("removed"), col("n_tok")).otherwise(0L))
            .as("n_tokens_removed"))
        .select(col("source"), col("n_docs"), col("n_removed"),
          col("n_tokens"), col("n_tokens_removed"),
          r6(col("n_tokens_removed").cast("double") /
            col("n_tokens").cast("double")).as("token_removal_share"))
        .orderBy("source")
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
               CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ',
                 'g'))) = 0 THEN 0
               ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ',
                 'g')), ' ')) END AS n_tok
        FROM documents WHERE text IS NOT NULL),
      k AS (SELECT fp, min(doc_id) AS keep_id FROM d GROUP BY 1)
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN n_tok ELSE 0
               END) AS BIGINT) AS n_tokens_removed,
             ${sqlR6("CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN " +
        "n_tok ELSE 0 END) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)")}
               AS token_removal_share
      FROM d JOIN k USING (fp)
      GROUP BY 1 ORDER BY 1""")
  )

  /** Survivorship — the step that APPLIES the near-dup clustering: per
    * connected component (q_d_components' label propagation, checked
    * there against an exact transitive closure) keep exactly one
    * canonical document — the longest (max n_chars), ties to the
    * smallest doc_id — the CCNet/RefinedWeb keep-the-best rule, vs
    * q_d_exact's keep-the-first. Per-source accounting of what survives:
    * all integer counts (n_chars is a column, not derived), keep-rate is
    * one r6 division. The keeper pick is a per-component row_number —
    * one shuffle on the component key, singleton docs pass through
    * untouched via the left join.
    */
  val dSurvivorship = QueryDef(
    "q_d_survivorship",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = ShingleN,
        threshold = JaccardThreshold, maxShingleFreq = MaxShingleFreq)
      val comp = Dedup.connectedComponents(pairs, "id1", "id2")
        .withColumnRenamed("id", "doc_id")
      val labeled = docs.select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("component",
          coalesce(col("comp"), col("doc_id")))
        .withColumn("keep",
          row_number().over(Window.partitionBy("component")
            .orderBy(desc("n_chars"), col("doc_id"))) === 1)
      labeled.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_drop"),
          sum(col("n_chars")).as("chars_total"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L))
            .as("chars_keep"))
        .select(col("source"), col("n_docs"), col("n_keep"),
          col("n_drop"), col("chars_total"), col("chars_keep"),
          r6(col("n_keep").cast("double") / col("n_docs").cast("double"))
            .as("keep_rate"))
        .orderBy("source")
    },
    Some(s"""
      WITH RECURSIVE $jaccardCtes,
      pairs AS (
        SELECT id1, id2 FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs),
      walk(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
      comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM walk GROUP BY a),
      lab AS (
        SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
               coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      kp AS (
        SELECT *, row_number() OVER (PARTITION BY component
                 ORDER BY n_chars DESC, doc_id) = 1 AS keep
        FROM lab)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_drop,
             CAST(sum(n_chars) AS BIGINT) AS chars_total,
             CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
               AS chars_keep,
             ${sqlR6("sum(CASE WHEN keep THEN 1 ELSE 0 END)" +
      " / CAST(count(*) AS DOUBLE)")} AS keep_rate
      FROM kp GROUP BY 1 ORDER BY 1""")
  )

  /** Transposition-aware fuzzy matching: the q_d_fuzzy blocking (brand ×
    * first name token) re-verified with the native unrestricted
    * Damerau–Levenshtein expression (functions.StringDistance) instead of
    * plain Levenshtein — swapped-adjacent-letter typos cost 1, not 2.
    * Both distances are exact integers, so the gate (against DuckDB's
    * `levenshtein` / `damerau_levenshtein` built-ins) is a pure algorithm
    * cross-check with no rounding anywhere; rows where dl < lev are the
    * transposition wins. Kernel runs only on blocked candidate pairs.
    */
  val dDamerau = QueryDef(
    "q_d_damerau",
    (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          split(col("p_name"), " ").getItem(0).as("tok"))
      val a = p.select(col("p_partkey").as("id1"), col("p_name").as("name1"),
        col("p_brand"), col("tok"))
      val b = p.select(col("p_partkey").as("id2"), col("p_name").as("name2"),
        col("p_brand"), col("tok"))
      a.join(b, Seq("p_brand", "tok"))
        .where(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("name1"), col("name2"),
          levenshtein(col("name1"), col("name2")).as("lev"),
          graft.functions.StringDistance
            .damerauCol(s, col("name1"), col("name2")).cast("int").as("dl"))
        .where(col("dl").between(1, FuzzyMaxDist))
        .orderBy("dl", "id1", "id2")
        .limit(25)
    },
    Some(s"""
      WITH p AS (
        SELECT p_partkey, p_name, p_brand,
               split_part(p_name, ' ', 1) AS tok
        FROM part),
      c AS (
        SELECT a.p_partkey AS id1, b.p_partkey AS id2,
               a.p_name AS name1, b.p_name AS name2,
               levenshtein(a.p_name, b.p_name) AS lev,
               damerau_levenshtein(a.p_name, b.p_name) AS dl
        FROM p a JOIN p b
          ON a.p_brand = b.p_brand AND a.tok = b.tok
            AND a.p_partkey < b.p_partkey)
      SELECT id1, id2, name1, name2, CAST(lev AS INT) AS lev,
             CAST(dl AS INT) AS dl
      FROM c WHERE dl BETWEEN 1 AND $FuzzyMaxDist
      ORDER BY dl, id1, id2 LIMIT 25""")
  )

  // E2E funnel thresholds — mirror pipeline.CurationMain's defaults for
  // the stages that are cross-engine SQL-expressible.
  private val E2eMinTokens = 8
  private val E2eMaxStopword = 0.9
  private val E2eMinDistinct = 0.1
  private val E2eMaxTopBigram = 0.9
  // fp-bucket count of the streaming MV's manifested fp index (r17): a
  // deployment sizes this so one bucket's fps fit one maintenance task
  // (thousands at 100 TB); at gate scale 8 keeps the per-generation file
  // count — and thus the fixed lifecycle cost of 6 commits — small while
  // still exercising bucket pruning and bounded-file compaction
  private val MvFpBuckets = 8

  /** End-to-end curation funnel — the composed pipeline gate: exact dedup
    * (keep-first per content fingerprint) → n-gram-Jaccard near-dup
    * clustering (connected components, keep each cluster's min id) →
    * quality gate (min tokens + stopword-ratio cap) → repetition gate
    * (Gopher-style distinct-token-ratio floor + top-bigram-ratio cap),
    * reported as per-stage document/token survival counts. Proves the
    * stages COMPOSE (each consumes the previous survivors), not just run
    * individually; the oracle replays the whole funnel in one SQL chain,
    * closing the near-dup graph with an exact recursive transitive
    * closure. Every gate predicate is an exact rational (long/long
    * division) or integer compare, so the funnel counts are bit-exact with
    * no rounding anywhere.
    *
    * Scale: each stage shuffles on doc_id / fingerprint / shingle keys
    * only; near-dup candidates stay DF-capped (never all-pairs); stages
    * are eagerly localCheckpointed so the five 1-row stage aggregates read
    * blocks instead of re-running upstream lineage (Verify's clearCaches
    * frees them post-dump).
    */
  /** Funnel body, threshold-parameterized: the gate below passes the
    * production defaults; PipelineE2eSpec drives each gate to ZERO
    * survivors (minTokens past every doc, minDistinct > 1) and asserts
    * the downstream stage rows report 0 docs instead of erroring — the
    * trivially-empty-filter trap a fixed-threshold gate can't see.
    */
  private[graft] def curationFunnel(s: SparkSession, dir: String,
      minTokens: Int = E2eMinTokens, maxStopword: Double = E2eMaxStopword,
      minDistinct: Double = E2eMinDistinct,
      maxTopBigram: Double = E2eMaxTopBigram): DataFrame = {
    import graft.text.TextAnalysis
    // docs IS checkpointed: downstream reads it ≥3 times (dedup window,
    // shingles, the input stage row) and blocks beat re-scanning +
    // re-filtering parquet — measured 6.1 s vs 7.6 s at sf0.1 without
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .localCheckpoint(true)
    def stageRow(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("n_tokens"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    val exact = Dedup.dropExactDups(docs, "doc_id", "text")
      .localCheckpoint(true)
    val pairs = Dedup.jaccardPairs(exact, "doc_id", "text", n = ShingleN,
      threshold = JaccardThreshold, maxShingleFreq = MaxShingleFreq)
    val losers = Dedup.connectedComponents(pairs, "id1", "id2")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val near = exact.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // r19: stages 4+5 are ONE conditional aggregation over the flagged
    // near-dedup survivors instead of a quality localCheckpoint + two
    // aggregate subtrees (guide §2.4 "share one pass"). Token sums keep
    // the old null-on-empty semantics (no otherwise-branch: a stage with
    // zero survivors sums to NULL, exactly like the old sum over an empty
    // frame and the oracle's un-coalesced sum).
    val q = TextAnalysis.withQuality(near)
      .select(col("doc_id"), col("text"),
        col("n_tokens").as("__ntok"),
        (col("n_tokens") >= minTokens &&
          col("stopword_ratio") <= maxStopword).as("__q"))
    val rs = TextAnalysis.repetitionSignals(
        q.filter(col("__q")).select("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id"),
        (col("distinct_token_ratio") >= minDistinct &&
          (col("top_bigram_ratio").isNull ||
            col("top_bigram_ratio") <= maxTopBigram)).as("__r"))
    val keep5 = col("__q") && coalesce(col("__r"), lit(false))
    // counts coalesce to 0 on an empty near frame (the old count(...)
    // semantics); token sums deliberately DON'T (null-on-empty, above)
    val tail = q.join(rs, Seq("doc_id"), "left").agg(
        coalesce(sum(when(col("__q"), 1L).otherwise(0L)), lit(0L)).as("n4"),
        sum(when(col("__q"), col("__ntok"))).as("t4"),
        coalesce(sum(when(keep5, 1L).otherwise(0L)), lit(0L)).as("n5"),
        sum(when(keep5, col("__ntok"))).as("t5"))
      .select(explode(array(
        struct(lit(4).as("stage_ord"), lit("quality_gate").as("stage"),
          col("n4").as("n_docs"), col("t4").as("n_tokens")),
        struct(lit(5).as("stage_ord"), lit("repetition_gate").as("stage"),
          col("n5").as("n_docs"), col("t5").as("n_tokens")))).as("s"))
      .select(col("s.stage_ord"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
    Seq(stageRow(1, "input", docs), stageRow(2, "exact_dedup", exact),
      stageRow(3, "near_dedup", near))
      .reduce(_ unionByName _)
      .unionByName(tail)
      .orderBy("stage_ord")
  }

  val dPipelineE2e = QueryDef(
    "q_pipeline_e2e",
    (s, dir) => curationFunnel(s, dir),
    Some {
      val stopSum = graft.text.TextAnalysis.Stopwords.map(w =>
        s"len(regexp_extract_all(' ' || lower(nt) || ' ', ' $w ', 0))")
        .mkString("(", " + ", ")")
      s"""
      WITH RECURSIVE
      d0 AS (
        SELECT doc_id, text,
               trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
        FROM documents WHERE text IS NOT NULL),
      dd AS (
        SELECT doc_id, text, nt, md5(nt) AS fp,
               CASE WHEN length(nt) = 0 THEN 0
                    ELSE len(string_split(nt, ' ')) END AS n_tok
        FROM d0),
      k AS (SELECT fp, min(doc_id) AS keep_id FROM dd GROUP BY 1),
      ex AS (SELECT dd.* FROM dd
             JOIN k ON dd.fp = k.fp AND dd.doc_id = k.keep_id),
      ${jaccardCtesOn("ex")},
      prs AS (
        SELECT id1, id2 FROM common
        JOIN sizes s1 ON s1.doc_id = id1
        JOIN sizes s2 ON s2.doc_id = id2
        WHERE c / CAST(s1.sz + s2.sz - c AS DOUBLE) >= $JaccardThreshold),
      edges AS (
        SELECT id1 AS a, id2 AS b FROM prs
        UNION SELECT id2, id1 FROM prs),
      walk(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
      comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM walk GROUP BY a),
      nd AS (
        SELECT ex.* FROM ex LEFT JOIN comp USING (doc_id)
        WHERE comp.component IS NULL OR comp.component = ex.doc_id),
      qg AS (
        SELECT * FROM nd
        WHERE n_tok >= $E2eMinTokens
          AND $stopSum / CAST(n_tok AS DOUBLE) <= $E2eMaxStopword),
      rtok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS tk FROM qg)),
      c1 AS (
        SELECT doc_id, count(DISTINCT w) AS dist, count(*) AS total
        FROM rtok GROUP BY 1),
      c2c AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS gram, count(*) AS c
        FROM rtok a JOIN rtok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      c2 AS (SELECT doc_id, max(c) AS topc, sum(c) AS total
             FROM c2c GROUP BY 1),
      kp AS (
        SELECT c1.doc_id FROM c1 LEFT JOIN c2 ON c2.doc_id = c1.doc_id
        WHERE c1.dist / CAST(c1.total AS DOUBLE) >= $E2eMinDistinct
          AND (c2.doc_id IS NULL
            OR c2.topc / CAST(c2.total AS DOUBLE) <= $E2eMaxTopBigram)),
      rg AS (SELECT qg.* FROM qg JOIN kp USING (doc_id))
      SELECT * FROM (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM dd
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(sum(n_tok) AS BIGINT) FROM ex
        UNION ALL SELECT 3, 'near_dedup', count(*),
               CAST(sum(n_tok) AS BIGINT) FROM nd
        UNION ALL SELECT 4, 'quality_gate', count(*),
               CAST(sum(n_tok) AS BIGINT) FROM qg
        UNION ALL SELECT 5, 'repetition_gate', count(*),
               CAST(sum(n_tok) AS BIGINT) FROM rg)
      ORDER BY stage_ord"""
    }
  )

  /** INCREMENTAL recompute of the curation funnel (r13 verdict headroom):
    * the maintenance loop an append-only 100 TB corpus actually runs. A
    * bounded insert batch (~9% of the corpus, arrival batch 1) lands on a
    * corpus whose curated view is already materialized; the incremental
    * path touches ONLY the delta — fingerprint the new docs, drop those
    * whose fingerprint probes the persisted base fingerprint index (an
    * fp-keyed join whose stream side is the small batch; at scale the
    * index is bucketed by fp so the probe is co-located, never a corpus
    * rescan), run the per-doc quality + repetition gates on the
    * survivors, and ADD their stage counts to the materialized view. The
    * full path recomputes the funnel over base∪delta with arrival-order
    * keep-first (batch, then doc_id — earliest arrival survives, the
    * online-dedup semantics that make insert-only IVM exact). Each stage
    * row publishes both results AND their exact-equality flag: counts and
    * token sums are integers, so consistency is exact, and any error in
    * the index probe, the within-delta dedup, or the view addition flips
    * a boolean and the hash.
    *
    * The testdata's planted duplicates are NEAR-dups (q_pipeline_e2e's
    * exact stage drops 0 docs), so the insert batch is SYNTHESIZED to
    * exercise every incremental mechanism: exact COPIES of base docs
    * (doc_id%37=1 — must be dropped by the index probe), FRESH docs with
    * new fingerprints (doc_id%41=1, suffixed text — must pass), TWIN
    * pairs duplicated inside the delta itself (doc_id%53=1 twice — the
    * within-delta keep-first must keep exactly one), stopword-spam docs
    * that must fall at the QUALITY gate (doc_id%43=1), and single-token
    * spam that must fall at the REPETITION gate (doc_id%47=1) — so every
    * funnel stage drops delta rows and the equality is never vacuous.
    * The near-dup
    * clustering stage is deliberately NOT in this view: a new doc can
    * bridge two existing clusters and change which BASE docs survive, so
    * cluster dedup is not incrementally maintainable without merge
    * propagation — the honest scope is the fingerprint + per-doc-gate
    * funnel, which is.
    */
  /** The synthesized insert batch shared by the incremental-funnel gates
    * (q_pipeline_incr_e2e, q_pipeline_incr_mv, q_pipeline_incr_delete):
    * exercises every incremental mechanism — see dPipelineIncr's scaladoc
    * for the per-class rationale. Insert ids live in the NEGATED
    * namespace: base doc_ids are non-negative at EVERY scale, so
    * -(doc_id·10 + class) can never collide with a real doc — an additive
    * offset (the first draft) collides with the soak's key-shifted copies
    * the moment the table passes the offset (the ADVICE-r12 CDC-gate
    * lesson). Returns (doc_id, text).
    */
  private def incrInsertBatch(raw0: DataFrame): DataFrame = {
    def insTxt(m: Int, cls: Int, txt: org.apache.spark.sql.Column) =
      raw0.filter(col("doc_id") % m === 1)
        .select((-(col("doc_id") * 10 + lit(cls))).as("doc_id"),
          txt.as("text"))
    def ins(m: Int, cls: Int, suffix: String) =
      insTxt(m, cls,
        if (suffix.isEmpty) col("text")
        else concat(col("text"), lit(suffix)))
    ins(37, 1, "")
      .unionByName(ins(41, 2, " graft fresh insert"))
      .unionByName(ins(53, 3, " graft twin insert"))
      .unionByName(ins(53, 4, " graft twin insert"))
      // stopword spam (10 of 11 tokens are stopword regex hits —
      // alternating, because the ' w ' match is non-overlapping):
      // must fall at the QUALITY gate
      .unionByName(insTxt(43, 5,
        concat(lit("the a the a the a the a the a doc"), col("doc_id"))))
      // single-token spam (distinct ratio 2/21 < 0.1): must fall at
      // the REPETITION gate
      .unionByName(insTxt(47, 6,
        concat(lit("spam spam spam spam spam spam spam spam spam spam " +
          "spam spam spam spam spam spam spam spam spam spam s"),
          col("doc_id"))))
  }

  /** DuckDB spelling of [[incrInsertBatch]] ∪ the base corpus, shared by
    * the incremental gates' oracles so the synthesized batch can never
    * drift between the Spark queries and their replays.
    */
  private val incrInsertRawSql = """raw AS (
        SELECT doc_id, 0 AS batch, text
        FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT -(doc_id * 10 + 1), 1, text
        FROM documents WHERE text IS NOT NULL AND doc_id % 37 = 1
        UNION ALL
        SELECT -(doc_id * 10 + 2), 1, text || ' graft fresh insert'
        FROM documents WHERE text IS NOT NULL AND doc_id % 41 = 1
        UNION ALL
        SELECT -(doc_id * 10 + 3), 1, text || ' graft twin insert'
        FROM documents WHERE text IS NOT NULL AND doc_id % 53 = 1
        UNION ALL
        SELECT -(doc_id * 10 + 4), 1, text || ' graft twin insert'
        FROM documents WHERE text IS NOT NULL AND doc_id % 53 = 1
        UNION ALL
        SELECT -(doc_id * 10 + 5), 1,
               'the a the a the a the a the a doc' || doc_id
        FROM documents WHERE text IS NOT NULL AND doc_id % 43 = 1
        UNION ALL
        SELECT -(doc_id * 10 + 6), 1,
               'spam spam spam spam spam spam spam spam spam spam ' ||
               'spam spam spam spam spam spam spam spam spam spam s'
               || doc_id
        FROM documents WHERE text IS NOT NULL AND doc_id % 47 = 1)"""

  val dPipelineIncr = QueryDef(
    "q_pipeline_incr_e2e",
    (s, dir) => {
      import graft.text.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true) // read 5×
      val docs = raw0.withColumn("batch", lit(0))
        .unionByName(incrInsertBatch(raw0).withColumn("batch", lit(1)))
        .withColumn("fp", md5(TextAnalysis.normText(col("text"))))
        .localCheckpoint(true) // read by the full, base, and delta paths
      def keepFirst(df: org.apache.spark.sql.DataFrame,
          order: Seq[org.apache.spark.sql.Column]) =
        df.withColumn("__rn",
            row_number().over(Window.partitionBy("fp").orderBy(order: _*)))
          .filter(col("__rn") === 1).drop("__rn")
      // per-path stage rows: (stage_ord, stage, n_docs, n_tokens) over
      // input + exact survivors + the two per-doc gates — the fused
      // single-aggregation form (r19; was an identical inline copy of the
      // old FunnelMv.stageCounts, now delegates to the shared one)
      def stages(input: org.apache.spark.sql.DataFrame,
          exact: org.apache.spark.sql.DataFrame) =
        graft.dedup.FunnelMv.stageCounts(input, exact, E2eMinTokens,
          E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
      val base = docs.filter(col("batch") === 0)
      val delta = docs.filter(col("batch") === 1)
      // FULL recompute: arrival-order keep-first over the whole corpus
      val full = stages(docs, keepFirst(docs,
        Seq(col("batch"), col("doc_id"))))
      // INCREMENTAL: materialized base view + delta-only processing —
      // within-delta keep-first, then the fp-index anti-probe
      val baseView = stages(base, keepFirst(base, Seq(col("doc_id"))))
      val deltaOnly = stages(delta,
        keepFirst(delta, Seq(col("doc_id")))
          .join(base.select("fp").distinct(), Seq("fp"), "left_anti"))
      val inc = baseView.unionByName(deltaOnly)
        .groupBy("stage_ord", "stage")
        .agg(sum(col("n_docs")).as("n_docs_inc"),
          sum(col("n_tokens")).as("n_tokens_inc"))
      full.withColumnRenamed("n_docs", "n_docs_full")
        .withColumnRenamed("n_tokens", "n_tokens_full")
        .join(inc, Seq("stage_ord", "stage"))
        .select(col("stage_ord"), col("stage"),
          col("n_docs_full"), col("n_docs_inc"),
          col("n_tokens_full"), col("n_tokens_inc"),
          (col("n_docs_full") === col("n_docs_inc") &&
            col("n_tokens_full") === col("n_tokens_inc")).as("consistent"))
        .orderBy("stage_ord")
    },
    Some {
      val stopSum = graft.text.TextAnalysis.Stopwords.map(w =>
        s"len(regexp_extract_all(' ' || lower(nt) || ' ', ' $w ', 0))")
        .mkString("(", " + ", ")")
      s"""
      WITH $incrInsertRawSql,
      d0 AS (
        SELECT doc_id, batch,
               trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
        FROM raw),
      dd AS (
        SELECT doc_id, batch, nt, md5(nt) AS fp,
               CASE WHEN length(nt) = 0 THEN 0
                    ELSE len(string_split(nt, ' ')) END AS n_tok
        FROM d0),
      -- FULL path: arrival-order keep-first (batch, then doc_id) — a
      -- row_number window, NOT a linearized batch·K + doc_id key, which
      -- silently misorders once ids outgrow K (the soak's shifted copies)
      fex AS (SELECT doc_id, batch, nt, fp, n_tok FROM (
        SELECT dd.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM dd) WHERE rn = 1),
      -- INCREMENTAL path: base keep-first + delta keep-first anti-probed
      -- against the base fingerprint index
      bfp AS (SELECT DISTINCT fp FROM dd WHERE batch = 0),
      bex AS (SELECT doc_id, batch, nt, fp, n_tok FROM (
        SELECT dd.*, row_number() OVER (PARTITION BY fp
          ORDER BY doc_id) AS rn FROM dd WHERE batch = 0) WHERE rn = 1),
      dex AS (SELECT doc_id, batch, nt, fp, n_tok FROM (
        SELECT dd.*, row_number() OVER (PARTITION BY fp
          ORDER BY doc_id) AS rn FROM dd WHERE batch = 1)
        WHERE rn = 1 AND fp NOT IN (SELECT fp FROM bfp)),
      iex AS (SELECT * FROM bex UNION ALL SELECT * FROM dex),
      -- per-doc gate flags are PURE functions of the text — computed once
      -- over the union of both paths' exact survivors
      sv AS (SELECT DISTINCT dd.* FROM dd
             WHERE doc_id IN (SELECT doc_id FROM fex
                              UNION SELECT doc_id FROM iex)),
      qf AS (
        SELECT doc_id FROM sv
        WHERE n_tok >= $E2eMinTokens
          AND $stopSum / CAST(n_tok AS DOUBLE) <= $E2eMaxStopword),
      rtok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS tk FROM sv
              WHERE doc_id IN (SELECT doc_id FROM qf))),
      c1 AS (
        SELECT doc_id, count(DISTINCT w) AS dist, count(*) AS total
        FROM rtok GROUP BY 1),
      c2c AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS gram, count(*) AS c
        FROM rtok a JOIN rtok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      c2 AS (SELECT doc_id, max(c) AS topc, sum(c) AS total
             FROM c2c GROUP BY 1),
      rf AS (
        SELECT c1.doc_id FROM c1 LEFT JOIN c2 ON c2.doc_id = c1.doc_id
        WHERE c1.dist / CAST(c1.total AS DOUBLE) >= $E2eMinDistinct
          AND (c2.doc_id IS NULL
            OR c2.topc / CAST(c2.total AS DOUBLE) <= $E2eMaxTopBigram)),
      stage_f AS (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tk FROM dd
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fex
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM fex WHERE doc_id IN (SELECT doc_id FROM qf)
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM fex WHERE doc_id IN (SELECT doc_id FROM qf)
                          AND doc_id IN (SELECT doc_id FROM rf)),
      stage_i AS (
        SELECT 1 AS stage_ord, count(*) AS n,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tk FROM dd
        UNION ALL SELECT 2, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM iex
        UNION ALL SELECT 3, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM iex WHERE doc_id IN (SELECT doc_id FROM qf)
        UNION ALL SELECT 4, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM iex WHERE doc_id IN (SELECT doc_id FROM qf)
                          AND doc_id IN (SELECT doc_id FROM rf))
      SELECT f.stage_ord, f.stage,
             f.n AS n_docs_full, i.n AS n_docs_inc,
             f.tk AS n_tokens_full, i.tk AS n_tokens_inc,
             (f.n = i.n AND f.tk = i.tk) AS consistent
      FROM stage_f f JOIN stage_i i USING (stage_ord)
      ORDER BY stage_ord"""
    }
  )

  /** PERSISTED-materialized-view incremental funnel (r14 verdict order
    * #1): q_pipeline_incr_e2e proves insert-only IVM semantics but
    * recomputes the base side in-query to self-verify; this gate runs the
    * PRODUCTION shape — the same split q_s_ivf_persist proved for ANN.
    * Build step (insert-time, amortized): dedup.FunnelMv materializes the
    * base corpus's four funnel-stage counters and its fingerprint index
    * as parquet, and the arriving insert batch (the same synthesized
    * classes as the in-query gate — every stage drops delta rows, so the
    * equality is never vacuous) is staged as files. Incremental step: a
    * pure consumer of PERSISTED state — reads the view + fp index + the
    * staged batch, NEVER the base documents (IncrMvSpec asserts every
    * file scan in the plan), and emits the updated view. The oracle is
    * the FULL RECOMPUTE over base ∪ batch with arrival-order keep-first:
    * the gate passes only if maintaining the view incrementally lands on
    * exactly the counters a from-scratch rebuild produces — "a 1% delta
    * reprocesses ~1%" as an artifact lifecycle, not an in-query
    * demonstration.
    */
  val dPipelineIncrMv = QueryDef(
    "q_pipeline_incr_mv",
    (s, dir) => {
      import graft.dedup.FunnelMv
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      Dirs.scratch("graft_incr_mv") { stage =>
        // BUILD: persist the base view + fp index; stage the batch as
        // files (in production it lands from ingestion — reading it back
        // keeps the incremental path a pure consumer of persisted state)
        FunnelMv.write(raw0, stage.toString, E2eMinTokens, E2eMaxStopword,
          E2eMinDistinct, E2eMaxTopBigram)
        incrInsertBatch(raw0).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/batch")
        // INCREMENTAL: persisted view + fp index + staged batch ONLY
        FunnelMv.applyInserts(s, stage.toString,
            s.read.parquet(s"$stage/batch"),
            E2eMinTokens, E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
          .orderBy("stage_ord")
          // materialize before the staged artifacts are deleted below
          .localCheckpoint(true)
      }
    },
    Some(incrMvFullRecomputeSql(""))
  )

  /** The full-recompute oracle over base ∪ insert batch with
    * arrival-order keep-first — the ground truth every incrementally- or
    * stream-maintained view must land on. Shared by q_pipeline_incr_mv
    * and q_pipeline_mv_stream_ingest (the latter appends pinned literal
    * columns via `extraCols`) so the two gates' ground truth can never
    * drift.
    */
  private def incrMvFullRecomputeSql(extraCols: String): String = {
    val stopSum = graft.text.TextAnalysis.Stopwords.map(w =>
      s"len(regexp_extract_all(' ' || lower(nt) || ' ', ' $w ', 0))")
      .mkString("(", " + ", ")")
    s"""
      WITH $incrInsertRawSql,
      d0 AS (
        SELECT doc_id, batch,
               trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
        FROM raw),
      dd AS (
        SELECT doc_id, batch, nt, md5(nt) AS fp,
               CASE WHEN length(nt) = 0 THEN 0
                    ELSE len(string_split(nt, ' ')) END AS n_tok
        FROM d0),
      -- FULL recompute: arrival-order keep-first over base ∪ batch — the
      -- ground truth the incrementally-maintained view must land on
      fex AS (SELECT doc_id, batch, nt, fp, n_tok FROM (
        SELECT dd.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM dd) WHERE rn = 1),
      qf AS (
        SELECT doc_id FROM fex
        WHERE n_tok >= $E2eMinTokens
          AND $stopSum / CAST(n_tok AS DOUBLE) <= $E2eMaxStopword),
      rtok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS tk FROM fex
              WHERE doc_id IN (SELECT doc_id FROM qf))),
      c1 AS (
        SELECT doc_id, count(DISTINCT w) AS dist, count(*) AS total
        FROM rtok GROUP BY 1),
      c2c AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS gram, count(*) AS c
        FROM rtok a JOIN rtok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      c2 AS (SELECT doc_id, max(c) AS topc, sum(c) AS total
             FROM c2c GROUP BY 1),
      rf AS (
        SELECT c1.doc_id FROM c1 LEFT JOIN c2 ON c2.doc_id = c1.doc_id
        WHERE c1.dist / CAST(c1.total AS DOUBLE) >= $E2eMinDistinct
          AND (c2.doc_id IS NULL
            OR c2.topc / CAST(c2.total AS DOUBLE) <= $E2eMaxTopBigram))
      SELECT u.*$extraCols FROM (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM dd
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fex
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM fex WHERE doc_id IN (SELECT doc_id FROM qf)
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT)
               FROM fex WHERE doc_id IN (SELECT doc_id FROM qf)
                          AND doc_id IN (SELECT doc_id FROM rf)) u
      ORDER BY stage_ord"""
  }

  /** TOMBSTONE DELETES in the funnel IVM (r14 verdict order #4) — the
    * other half of the maintenance loop: GDPR-style removals from a
    * curated corpus whose view was built by keep-first dedup. The
    * insert-time state is a delete-capable fingerprint index with one row
    * per ABSORBED doc — (doc_id, batch, fp, n_tok, q, qr), the per-doc
    * gate flags being pure functions computed once at ingest — and the
    * delete path touches ONLY that index plus the tombstone batch, never
    * any text. Update rule per affected fingerprint group: recompute the
    * keeper among survivors (arrival order), subtract the OLD keeper's
    * per-stage contributions and add the NEW keeper's; the input stage
    * subtracts every deleted doc. The tombstone batch plants all four
    * delete shapes:
    *   - RESURFACE (the subtle case): delete a BASE original whose fp had
    *     suppressed a batch-1 exact copy (doc_id%37=1 ∧ %2=0) — the copy
    *     must become the keeper, so the exact/quality/repetition counts
    *     must NOT drop (keep-first under deletion);
    *   - plain decrement: delete a fresh batch-1 doc (%41=1 ∧ %3=0) —
    *     every stage it passed decrements;
    *   - suppressed-duplicate delete: delete a batch-1 COPY (%37=1 ∧
    *     %5=0) — a no-op beyond the input stage, the keeper is untouched;
    *   - group-vanish: where %2=0 ∧ %5=0 overlap, BOTH members die and
    *     the group leaves every stage.
    * The full path recomputes keepers from scratch over the index minus
    * tombstones; each stage row publishes both results and their exact
    * integer equality flag, so any error in keeper succession, the
    * anti-probe, or the contribution arithmetic flips a boolean and the
    * hash. (IncrDeleteSpec additionally pins keeper IDENTITY — counts
    * alone cannot distinguish "copy resurfaced" from "original
    * retained".)
    */
  /** Insert-time per-doc state (the delete-capable index) over
    * base ∪ insert batch — (doc_id, batch, fp, n_tok, q, qr), the gate
    * flags being pure functions of the text computed once at ingest —
    * plus the tombstone batch planting all four delete shapes (see
    * dPipelineIncrDelete's scaladoc). Shared by q_pipeline_incr_delete
    * (in-query IVM) and q_pipeline_incr_vacuum (persisted-artifact
    * vacuum) so the two gates can never drift.
    */
  private def deleteCapableIndex(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import graft.text.TextAnalysis
    val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
      .select("doc_id", "text").localCheckpoint(true)
    val docs = raw0.withColumn("batch", lit(0))
      .unionByName(incrInsertBatch(raw0).withColumn("batch", lit(1)))
      .localCheckpoint(true)
    val qual = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("batch"),
        md5(TextAnalysis.normText(col("text"))).as("fp"),
        col("n_tokens").as("n_tok"),
        (col("n_tokens") >= E2eMinTokens &&
          col("stopword_ratio") <= E2eMaxStopword).as("q"))
    val rep = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .select(col("doc_id"),
        (col("distinct_token_ratio") >= E2eMinDistinct &&
          (col("top_bigram_ratio").isNull ||
            col("top_bigram_ratio") <= E2eMaxTopBigram)).as("r"))
    val idx = qual.join(rep, Seq("doc_id"))
      .select(col("doc_id"), col("batch"), col("fp"), col("n_tok"),
        col("q"), (col("q") && coalesce(col("r"), lit(false))).as("qr"))
      .localCheckpoint(true)
    // the tombstone batch (doc_ids only — deletes arrive as ids)
    val del = raw0
      .filter(col("doc_id") % 37 === 1 && col("doc_id") % 2 === 0)
      .select(col("doc_id"))
      .unionByName(raw0
        .filter(col("doc_id") % 41 === 1 && col("doc_id") % 3 === 0)
        .select((-(col("doc_id") * 10 + lit(2))).as("doc_id")))
      .unionByName(raw0
        .filter(col("doc_id") % 37 === 1 && col("doc_id") % 5 === 0)
        .select((-(col("doc_id") * 10 + lit(1))).as("doc_id")))
      .localCheckpoint(true)
    (idx, del)
  }

  /** The four funnel-stage counters computed from index rows alone (flags
    * are insert-time state — no text access).
    *
    * r19: ONE window pass + ONE conditional aggregation replace the old
    * `delKeepers(input)` + union of four aggregate subtrees (guide §2.4
    * "share one pass"): the keeper flag is row_number()==1 over the same
    * (fp; batch, doc_id) window delKeepers used, and each stage's
    * count/token sum is a flag-gated conditional sum — identical integers
    * by construction (q/qr NULL behaves like the old filter: excluded).
    */
  private def delStages(input: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = row_number().over(Window.partitionBy("fp")
      .orderBy(col("batch"), col("doc_id"))) === 1
    // count aggregates coalesced: over an EMPTY index sum(when...) is
    // NULL where the old count(...) was 0
    val one = input.withColumn("__k", k).agg(
      count(lit(1)).as("n1"),
      coalesce(sum(col("n_tok")), lit(0L)).as("t1"),
      coalesce(sum(when(col("__k"), 1L).otherwise(0L)), lit(0L)).as("n2"),
      coalesce(sum(when(col("__k"), col("n_tok")).otherwise(0L)), lit(0L))
        .as("t2"),
      coalesce(sum(when(col("__k") && col("q"), 1L).otherwise(0L)),
        lit(0L)).as("n3"),
      coalesce(sum(when(col("__k") && col("q"), col("n_tok"))
        .otherwise(0L)), lit(0L)).as("t3"),
      coalesce(sum(when(col("__k") && col("qr"), 1L).otherwise(0L)),
        lit(0L)).as("n4"),
      coalesce(sum(when(col("__k") && col("qr"), col("n_tok"))
        .otherwise(0L)), lit(0L)).as("t4"))
    one.select(explode(array(
        struct(lit(1).as("stage_ord"), lit("input").as("stage"),
          col("n1").as("n_docs"), col("t1").as("n_tokens")),
        struct(lit(2).as("stage_ord"), lit("exact_dedup").as("stage"),
          col("n2").as("n_docs"), col("t2").as("n_tokens")),
        struct(lit(3).as("stage_ord"), lit("quality_gate").as("stage"),
          col("n3").as("n_docs"), col("t3").as("n_tokens")),
        struct(lit(4).as("stage_ord"), lit("repetition_gate").as("stage"),
          col("n4").as("n_docs"), col("t4").as("n_tokens")))).as("s"))
      .select(col("s.stage_ord"), col("s.stage"), col("s.n_docs"),
        col("s.n_tokens"))
  }

  /** Shared oracle CTE prefix for the delete-capable-index gates
    * (q_pipeline_incr_delete, q_pipeline_incr_vacuum): base ∪ insert
    * batch, the per-doc flags relation (insert-time state), and the
    * tombstone batch — the independently-recomputed twins of
    * [[deleteCapableIndex]]'s two frames.
    */
  private val delIndexCtes: String = {
    val stopSum = graft.text.TextAnalysis.Stopwords.map(w =>
      s"len(regexp_extract_all(' ' || lower(nt) || ' ', ' $w ', 0))")
      .mkString("(", " + ", ")")
    s"""$incrInsertRawSql,
      d0 AS (
        SELECT doc_id, batch,
               trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
        FROM raw),
      dd AS (
        SELECT doc_id, batch, nt, md5(nt) AS fp,
               CASE WHEN length(nt) = 0 THEN 0
                    ELSE len(string_split(nt, ' ')) END AS n_tok
        FROM d0),
      del AS (
        SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND doc_id % 37 = 1 AND doc_id % 2 = 0
        UNION ALL
        SELECT -(doc_id * 10 + 2) FROM documents
        WHERE text IS NOT NULL AND doc_id % 41 = 1 AND doc_id % 3 = 0
        UNION ALL
        SELECT -(doc_id * 10 + 1) FROM documents
        WHERE text IS NOT NULL AND doc_id % 37 = 1 AND doc_id % 5 = 0),
      -- per-doc gate flags, pure functions of the text (insert-time state)
      qf AS (
        SELECT doc_id FROM dd
        WHERE n_tok >= $E2eMinTokens
          AND $stopSum / CAST(n_tok AS DOUBLE) <= $E2eMaxStopword),
      rtok AS (
        SELECT doc_id, generate_subscripts(tk, 1) AS pos, unnest(tk) AS w
        FROM (SELECT doc_id, string_split(nt, ' ') AS tk FROM dd
              WHERE doc_id IN (SELECT doc_id FROM qf))),
      c1 AS (
        SELECT doc_id, count(DISTINCT w) AS dist, count(*) AS total
        FROM rtok GROUP BY 1),
      c2c AS (
        SELECT a.doc_id, a.w || ' ' || b.w AS gram, count(*) AS c
        FROM rtok a JOIN rtok b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
      c2 AS (SELECT doc_id, max(c) AS topc, sum(c) AS total
             FROM c2c GROUP BY 1),
      rf AS (
        SELECT c1.doc_id FROM c1 LEFT JOIN c2 ON c2.doc_id = c1.doc_id
        WHERE c1.dist / CAST(c1.total AS DOUBLE) >= $E2eMinDistinct
          AND (c2.doc_id IS NULL
            OR c2.topc / CAST(c2.total AS DOUBLE) <= $E2eMaxTopBigram)),
      flags AS MATERIALIZED (
        SELECT doc_id, batch, fp, n_tok,
               doc_id IN (SELECT doc_id FROM qf) AS q,
               doc_id IN (SELECT doc_id FROM qf)
                 AND doc_id IN (SELECT doc_id FROM rf) AS qr
        FROM dd)"""
  }

  val dPipelineIncrDelete = QueryDef(
    "q_pipeline_incr_delete",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (idx, del) = deleteCapableIndex(s, dir)
      // FULL recompute: keepers from scratch over index minus tombstones —
      // consumed once by the fused delStages, so no checkpoint copy (r19)
      val full = delStages(idx.join(del, Seq("doc_id"), "left_anti"))
      // INCREMENTAL: pre-delete view + per-affected-group keeper
      // succession, from the index and the tombstones ONLY
      val pre = delStages(idx)
      val aff = idx.join(del, Seq("doc_id")).select("fp").distinct()
      // bounded by the deleted groups — at scale a co-located fp-bucketed
      // probe, never a corpus rescan. r19: the old per-stage
      // affOld/affNew checkpoints + 7 aggregate subtrees are ONE window
      // pass + ONE conditional aggregation — old/new keeper flags are
      // min-(batch,doc_id)-struct per fp group (≡ the delKeepers
      // row_number()==1, rows being doc_id-unique), the new-keeper min
      // ranging over surviving rows only; the deleted rows all live in
      // affected groups by construction, so stage 1's delta folds into
      // the same aggregation.
      val delF = broadcast(del.withColumn("__del", lit(true)))
      val w = Window.partitionBy("fp")
      val key = struct(col("batch"), col("doc_id"))
      val fa = idx.join(aff, Seq("fp"))
        .join(delF, Seq("doc_id"), "left")
        .withColumn("__del", coalesce(col("__del"), lit(false)))
        .withColumn("__kOld", key === min(key).over(w))
        .withColumn("__kNew",
          !col("__del") && key === min(when(!col("__del"), key)).over(w))
      // both coalesced: over an EMPTY affected set (no tombstone matched)
      // the old per-side count/sum aggregates produced 0 deltas
      def cnt(c: org.apache.spark.sql.Column) =
        coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
      def tok(c: org.apache.spark.sql.Column) =
        coalesce(sum(when(c, col("n_tok")).otherwise(0L)), lit(0L))
      val dOne = fa.agg(
        cnt(col("__del")).as("xn"), tok(col("__del")).as("xtk"),
        cnt(col("__kNew")).as("nn2"), tok(col("__kNew")).as("nt2"),
        cnt(col("__kOld")).as("kn2"), tok(col("__kOld")).as("kt2"),
        cnt(col("__kNew") && col("q")).as("nn3"),
        tok(col("__kNew") && col("q")).as("nt3"),
        cnt(col("__kOld") && col("q")).as("kn3"),
        tok(col("__kOld") && col("q")).as("kt3"),
        cnt(col("__kNew") && col("qr")).as("nn4"),
        tok(col("__kNew") && col("qr")).as("nt4"),
        cnt(col("__kOld") && col("qr")).as("kn4"),
        tok(col("__kOld") && col("qr")).as("kt4"))
      val deltas = dOne.select(explode(array(
          struct(lit(1).as("stage_ord"), (-col("xn")).as("dn"),
            (-col("xtk")).as("dtk")),
          struct(lit(2).as("stage_ord"), (col("nn2") - col("kn2")).as("dn"),
            (col("nt2") - col("kt2")).as("dtk")),
          struct(lit(3).as("stage_ord"), (col("nn3") - col("kn3")).as("dn"),
            (col("nt3") - col("kt3")).as("dtk")),
          struct(lit(4).as("stage_ord"), (col("nn4") - col("kn4")).as("dn"),
            (col("nt4") - col("kt4")).as("dtk")))).as("d"))
        .select(col("d.stage_ord"), col("d.dn"), col("d.dtk"))
      val inc = pre.join(deltas, Seq("stage_ord"))
        .select(col("stage_ord"),
          (col("n_docs") + col("dn")).as("n_docs_inc"),
          (col("n_tokens") + col("dtk")).as("n_tokens_inc"))
      full.withColumnRenamed("n_docs", "n_docs_full")
        .withColumnRenamed("n_tokens", "n_tokens_full")
        .join(inc, Seq("stage_ord"))
        .select(col("stage_ord"), col("stage"),
          col("n_docs_full"), col("n_docs_inc"),
          col("n_tokens_full"), col("n_tokens_inc"),
          (col("n_docs_full") === col("n_docs_inc") &&
            col("n_tokens_full") === col("n_tokens_inc")).as("consistent"))
        .orderBy("stage_ord")
    },
    Some {
      s"""
      WITH $delIndexCtes,
      -- FULL: keepers recomputed from scratch over index minus tombstones
      fsurv AS (SELECT * FROM flags
                WHERE doc_id NOT IN (SELECT doc_id FROM del)),
      fkeep AS (SELECT doc_id, batch, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM fsurv f) WHERE rn = 1),
      stage_f AS (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tk FROM fsurv
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep WHERE q
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep WHERE qr),
      -- INCREMENTAL: pre-delete view + affected-group keeper succession
      pk AS MATERIALIZED (SELECT doc_id, batch, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM flags f) WHERE rn = 1),
      pre AS (
        SELECT 1 AS stage_ord, count(*) AS n,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tk FROM flags
        UNION ALL SELECT 2, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM pk
        UNION ALL SELECT 3, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM pk WHERE q
        UNION ALL SELECT 4, count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM pk WHERE qr),
      aff AS (SELECT DISTINCT fp FROM flags
              WHERE doc_id IN (SELECT doc_id FROM del)),
      affold AS (SELECT pk.* FROM pk JOIN aff USING (fp)),
      affnew AS (SELECT doc_id, batch, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn
        FROM flags f JOIN aff USING (fp)
        WHERE doc_id NOT IN (SELECT doc_id FROM del)) WHERE rn = 1),
      deld AS (SELECT * FROM flags
               WHERE doc_id IN (SELECT doc_id FROM del)),
      delta AS (
        SELECT 1 AS stage_ord, -count(*) AS dn,
               -CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS dtk FROM deld
        UNION ALL SELECT 2,
               (SELECT count(*) FROM affnew)
                 - (SELECT count(*) FROM affold),
               CAST((SELECT coalesce(sum(n_tok), 0) FROM affnew)
                 - (SELECT coalesce(sum(n_tok), 0) FROM affold) AS BIGINT)
        UNION ALL SELECT 3,
               (SELECT count(*) FROM affnew WHERE q)
                 - (SELECT count(*) FROM affold WHERE q),
               CAST((SELECT coalesce(sum(n_tok), 0) FROM affnew WHERE q)
                 - (SELECT coalesce(sum(n_tok), 0) FROM affold WHERE q)
                 AS BIGINT)
        UNION ALL SELECT 4,
               (SELECT count(*) FROM affnew WHERE qr)
                 - (SELECT count(*) FROM affold WHERE qr),
               CAST((SELECT coalesce(sum(n_tok), 0) FROM affnew WHERE qr)
                 - (SELECT coalesce(sum(n_tok), 0) FROM affold WHERE qr)
                 AS BIGINT)),
      stage_i AS (
        SELECT pre.stage_ord, pre.n + delta.dn AS n, pre.tk + delta.dtk AS tk
        FROM pre JOIN delta USING (stage_ord))
      SELECT f.stage_ord, f.stage,
             f.n AS n_docs_full, i.n AS n_docs_inc,
             f.tk AS n_tokens_full, i.tk AS n_tokens_inc,
             (f.n = i.n AND f.tk = i.tk) AS consistent
      FROM stage_f f JOIN stage_i i USING (stage_ord)
      ORDER BY stage_ord"""
    }
  )

  /** VERSIONED MANIFEST COMMITS + TIME TRAVEL for the persisted funnel
    * view (sources.VersionedView) — the commit protocol a materialized
    * view needs on object storage, where a maintenance job can die
    * mid-write and directory renames are not atomic across files. The
    * gate runs the full protocol lifecycle: the base view is committed as
    * v1 (data files first, marker last — the marker IS the commit point),
    * the insert batch is applied against the SNAPSHOT read of v1 and
    * committed as v2, and then a TORN v3 is planted — data files with
    * corrupt numbers and no marker, the exact crash shape. The published
    * result reads v2 through the latest-committed resolution (so a torn
    * tip leaking through would surface corrupt counts and flip the hash),
    * time-travels back to v1 under the torn tip, and pins
    * `torn_invisible` (latest committed == 2). The oracle independently
    * recomputes BOTH snapshots from raw tables: v1 = the base-only
    * funnel, v2 = the full base ∪ batch recompute the IVM must land on.
    */
  val dPipelineMvTimetravel = QueryDef(
    "q_pipeline_mv_timetravel",
    (s, dir) => {
      import graft.dedup.FunnelMv
      import graft.sources.VersionedView
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      Dirs.scratch("graft_mv_tt") { stage =>
        // BUILD: base view + fp index via the production build step
        FunnelMv.write(raw0, s"$stage/mv", E2eMinTokens, E2eMaxStopword,
          E2eMinDistinct, E2eMaxTopBigram)
        val vpath = s"$stage/versioned"
        VersionedView.commit(s.read.parquet(s"$stage/mv/view"), vpath, 1L)
        incrInsertBatch(raw0).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/batch")
        // v2 = the insert batch applied against the SNAPSHOT read of v1
        val updated = FunnelMv.applyInsertsTo(
          VersionedView.read(s, vpath),
          s.read.parquet(s"$stage/mv/fpindex"),
          s.read.parquet(s"$stage/batch"),
          E2eMinTokens, E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
        VersionedView.commit(updated, vpath, 2L)
        // TORN v3: a job that died after its data write but before its
        // marker — corrupt numbers that must stay invisible to readers
        VersionedView.read(s, vpath)
          .withColumn("n_docs", col("n_docs") + 1)
          .write.mode("overwrite").parquet(s"$vpath/v=3")
        val latest = VersionedView.latestVersion(vpath)
        val v2r = VersionedView.read(s, vpath) // latest-committed = v2
          .withColumn("version", lit(2L))
        val v1r = VersionedView.readVersion(s, vpath, 1L) // time travel
          .withColumn("version", lit(1L))
        v1r.unionByName(v2r)
          .withColumn("torn_invisible", lit(latest.contains(2L)))
          .select(col("version"), col("stage_ord"), col("stage"),
            col("n_docs"), col("n_tokens"), col("torn_invisible"))
          .orderBy("version", "stage_ord")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH $delIndexCtes,
      b0 AS (SELECT * FROM flags WHERE batch = 0),
      k1 AS (SELECT doc_id, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM b0 f) WHERE rn = 1),
      k2 AS (SELECT doc_id, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM flags f) WHERE rn = 1),
      s1 AS (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM b0
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k1
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k1 WHERE q
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k1 WHERE qr),
      s2 AS (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens
        FROM flags
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k2
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k2 WHERE q
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM k2 WHERE qr)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS version, stage_ord, stage, n_docs,
               n_tokens, TRUE AS torn_invisible FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), stage_ord, stage, n_docs, n_tokens, TRUE
        FROM s2)
      ORDER BY version, stage_ord""")
  )

  /** PHYSICAL tombstone VACUUM of the persisted funnel index — the
    * artifact-lifecycle completion of q_pipeline_incr_delete: that gate
    * proves the IVM arithmetic under deletes; this one proves the BYTES
    * go away (GDPR-style removal — a logical tombstone list is not
    * deletion). The delete-capable per-doc index is persisted PARTITIONED
    * BY fingerprint hash bucket, the tombstone batch (all four delete
    * shapes, including the keeper-succession resurface case) is vacuumed
    * by rewriting ONLY the affected buckets (partition-pruned anti-join
    * commit via ManifestedPartitions — untouched buckets' files are
    * never opened), and the funnel stages are then recomputed from the
    * VACUUMED artifact alone — keep-first succession needs no special
    * casing because dead rows are physically gone from every later read.
    * The oracle recomputes the post-delete funnel from raw tables, so any
    * row the vacuum wrongly kept or dropped flips a stage count; the
    * pinned `purged` boolean (no tombstoned row readable ∧ row delta ==
    * purge count) makes a silent no-op vacuum flip the hash too.
    * IncrVacuumSpec additionally asserts unaffected buckets' files are
    * untouched on disk.
    */
  val dPipelineIncrVacuum = QueryDef(
    "q_pipeline_incr_vacuum",
    (s, dir) => {
      import graft.dedup.FunnelMv
      val (idx, del) = deleteCapableIndex(s, dir)
      Dirs.scratch("graft_funnel_vacuum") { stage =>
        FunnelMv.writeDocIndex(idx, stage.toString, nBuckets = 16)
        val before = FunnelMv.readDocIndex(s, stage.toString).count()
        val purged = FunnelMv.vacuum(s, stage.toString, del)
        val vac = FunnelMv.readDocIndex(s, stage.toString)
          .localCheckpoint(true) // materialize before the index is deleted
        val after = vac.count()
        val remaining = vac.join(del, Seq("doc_id")).count()
        // rows_after is replayed by the oracle from raw tables; purged is
        // the physical-deletion claim (no tombstoned row readable ∧ row
        // delta == purge count) — deterministically TRUE, so the oracle's
        // literal makes a silent no-op vacuum flip the hash
        val book = s.range(1).select(
          lit(after).as("rows_after"),
          lit(remaining == 0L && before - after == purged).as("purged"))
        delStages(vac)
          .crossJoin(broadcast(book))
          .orderBy("stage_ord")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH $delIndexCtes,
      fsurv AS (SELECT * FROM flags
                WHERE doc_id NOT IN (SELECT doc_id FROM del)),
      fkeep AS (SELECT doc_id, batch, fp, n_tok, q, qr FROM (
        SELECT f.*, row_number() OVER (PARTITION BY fp
          ORDER BY batch, doc_id) AS rn FROM fsurv f) WHERE rn = 1),
      book AS (SELECT CAST(count(*) AS BIGINT) AS rows_after,
                      TRUE AS purged FROM fsurv)
      SELECT st.stage_ord, st.stage, st.n_docs, st.n_tokens,
             book.rows_after, book.purged
      FROM (
        SELECT 1 AS stage_ord, 'input' AS stage, count(*) AS n_docs,
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens
        FROM fsurv
        UNION ALL SELECT 2, 'exact_dedup', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep
        UNION ALL SELECT 3, 'quality_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep WHERE q
        UNION ALL SELECT 4, 'repetition_gate', count(*),
               CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM fkeep WHERE qr
      ) st CROSS JOIN book
      ORDER BY stage_ord""")
  )

  /** STREAMING INGEST into the persisted funnel MV with EXACTLY-ONCE
    * versioned commits (r16 verdict order #4; reworked r17 order #1) —
    * the arrival path of a live curation pipeline: the insert batch
    * lands as a stream of three arrival slices (doc_id-ascending ranges,
    * mtime-pinned replay order, maxFilesPerTrigger=1) and each
    * micro-batch runs the insert-only IVM against the MANIFESTED
    * versioned MV (FunnelMv.ingestBatch): the batch's fps land as ONE
    * new generation of the fp-BUCKETED fp index, the anti-probe prunes
    * to the batch's buckets, and {updated view, fp generation, applied-
    * batches ledger} commit under ONE marker. The r16 layout re-unioned
    * EVERY fp-delta version per batch — O(V) per batch, O(V²) over the
    * stream (the r16 verdict's one scale-killer); now per-batch input
    * assembly reads a BOUNDED set: the view (1 file), the ledger
    * (1 file), and the probed buckets' live generations, which the
    * IN-STREAM scheduled compaction (every 2 batches, inside
    * foreachBatch) keeps folded — `bounded_reads` pins that no fp bucket
    * ends the run with more than compaction-cadence+1 live files.
    * Exactly-once is keyed by the LEDGER, not by version arithmetic, so
    * maintenance versions interleave freely with batch versions: a
    * re-delivered batch finds its recorded (in, out) versions, recomputes
    * from the same snapshot, and its recommit REPLACES its version. The
    * gate proves it twice: a genuine checkpoint RESTART mid-feed
    * (`resumed`) and an explicit re-delivery of an already-committed
    * batch (`replay_idempotent` pins that its version's rows recompute
    * identically and the final view is untouched). The published view
    * must land on the FULL-RECOMPUTE oracle over base ∪ batch —
    * stream-maintained ≡ from-scratch. Slicing by ascending doc_id
    * ranges makes cross-slice keep-first equal global keep-first by
    * doc_id, so the oracle is exactly q_pipeline_incr_mv's.
    */
  val dPipelineMvStreamIngest = QueryDef(
    "q_pipeline_mv_stream_ingest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.dedup.FunnelMv
      import graft.sources.{ManifestedPartitions, VersionedView}
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      Dirs.scratch("graft_mv_stream") { stage =>
        val vroot = s"$stage/versioned"
        val feed = stage.resolve("feed")
        val ckpt = stage.resolve("ckpt")
        val compactEvery = 2
        // BUILD: base view + fp-bucketed fp index + empty ledger as v1
        FunnelMv.writeVersioned(raw0, vroot, MvFpBuckets, E2eMinTokens,
          E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
        // three arrival slices: ascending doc_id ranges (ntile), staged
        // with ascending mtimes to pin FileStreamSource replay order
        val sliced = incrInsertBatch(raw0)
          .withColumn("slice",
            ntile(3).over(Window.orderBy("doc_id")) - 1)
          .localCheckpoint(true)
        QueryDef.stageSlices(sliced, "slice", 3, stage)
        // the IVM step for one micro-batch: ledger-keyed exactly-once
        // ingest, then the SCHEDULED compaction — only when this call
        // advanced the head (a re-delivered batch must not re-compact).
        // Returns whether the batch held rows — ONE isEmpty action per
        // batch, shared with the foreachBatch body's `seen` bookkeeping
        // (r19: the body ran its own isEmpty job on top of this one)
        def applyBatch(b: DataFrame, batchId: Long): Boolean = {
          if (b.isEmpty) return false
          val outV = FunnelMv.ingestBatch(s, vroot, b, batchId,
            MvFpBuckets, E2eMinTokens, E2eMaxStopword, E2eMinDistinct,
            E2eMaxTopBigram)
          if (ManifestedPartitions.latestVersion(vroot).contains(outV) &&
            batchId % compactEvery == compactEvery - 1)
            FunnelMv.compactFps(s, vroot)
          true
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
              if (applyBatch(b, batchId)) {
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
        // v1 base, v2=b0, v3=b1, v4=compaction (after b1), v5=b2
        val head = ManifestedPartitions.latestVersion(vroot)
        require(head.contains(5L),
          s"expected 5 committed versions (3 batches + 1 compaction), " +
            s"got $head")
        def viewRows(v: Long) = FunnelMv.readView(s, vroot, v)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        // EXPLICIT RE-DELIVERY of the already-committed batch 1 (the
        // crash-between-commit-and-checkpoint shape): the ledger maps it
        // back to (in=2, out=3) ⇒ identical recompute, recommit replaces
        // v3; the later compaction (v4) and batch 2 (v5) stay untouched
        val v3Before = viewRows(3L)
        val finalBefore = viewRows(5L)
        val fpsBefore = ManifestedPartitions.readEntries(
          s, vroot, FunnelMv.FpsData, 3L)
        applyBatch(s.read.parquet(feed.resolve("b01.parquet").toString), 1L)
        val replayIdempotent = viewRows(3L) == v3Before &&
          viewRows(5L) == finalBefore &&
          ManifestedPartitions.readEntries(
            s, vroot, FunnelMv.FpsData, 3L) == fpsBefore &&
          ManifestedPartitions.latestVersion(vroot).contains(5L)
        // the scale invariant: per-batch fp assembly is BOUNDED — no
        // bucket's live rows span more than cadence+1 files at the head
        val boundedReads = ManifestedPartitions
          .liveStats(s, vroot, FunnelMv.FpsData)
          .values.forall(_._1 <= compactEvery + 1)
        FunnelMv.readView(s, vroot, 5L)
          .withColumn("resumed", lit(resumed))
          .withColumn("replay_idempotent", lit(replayIdempotent))
          .withColumn("bounded_reads", lit(boundedReads))
          .orderBy("stage_ord")
          .localCheckpoint(true)
      }
    },
    Some(incrMvFullRecomputeSql(
      ", TRUE AS resumed, TRUE AS replay_idempotent, TRUE AS bounded_reads"))
  )

  /** RETENTION GC for versioned views (r16, verdict order #5):
    * VersionedView accumulates every version forever — `expire` is the
    * retention policy. The gate commits the base funnel view as v1 and
    * the IVM-updated view as v2, expires to keepLast=1, and pins the
    * three safety claims: the latest snapshot is bit-identical before and
    * after GC (`latest_unaffected`), time travel below the horizon fails
    * LOUDLY instead of serving a half-deleted snapshot — the marker is
    * removed FIRST, so the commit check rejects the read
    * (`below_horizon_loud`) — and v1's data directory and marker are
    * physically gone (`bytes_gone`). The published rows are the surviving
    * v2 view, replayed by the oracle as the full recompute over
    * base ∪ batch.
    */
  val dPipelineMvExpire = QueryDef(
    "q_pipeline_mv_expire",
    (s, dir) => {
      import java.nio.file.{Files, Paths}
      import graft.dedup.FunnelMv
      import graft.sources.VersionedView
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      Dirs.scratch("graft_mv_expire") { stage =>
        val vroot = s"$stage/versioned"
        FunnelMv.write(raw0, s"$stage/mv", E2eMinTokens, E2eMaxStopword,
          E2eMinDistinct, E2eMaxTopBigram)
        VersionedView.commit(s.read.parquet(s"$stage/mv/view"), vroot, 1L)
        incrInsertBatch(raw0).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/batch")
        val updated = FunnelMv.applyInsertsTo(
          VersionedView.read(s, vroot),
          s.read.parquet(s"$stage/mv/fpindex"),
          s.read.parquet(s"$stage/batch"),
          E2eMinTokens, E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
        VersionedView.commit(updated, vroot, 2L)
        def latestRows() = VersionedView.read(s, vroot)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        val preRows = latestRows()
        val expired = VersionedView.expire(vroot, keepLast = 1)
        val latestUnaffected = expired == Seq(1L) &&
          VersionedView.latestVersion(vroot).contains(2L) &&
          latestRows() == preRows
        val belowHorizonLoud =
          try { VersionedView.readVersion(s, vroot, 1L); false }
          catch { case _: IllegalArgumentException => true }
        val bytesGone = !Files.exists(Paths.get(s"$vroot/v=1")) &&
          !Files.exists(Paths.get(s"$vroot/_commits/1"))
        VersionedView.read(s, vroot)
          .withColumn("latest_unaffected", lit(latestUnaffected))
          .withColumn("below_horizon_loud", lit(belowHorizonLoud))
          .withColumn("bytes_gone", lit(bytesGone))
          .orderBy("stage_ord")
          .localCheckpoint(true)
      }
    },
    Some(incrMvFullRecomputeSql(
      ", TRUE AS latest_unaffected, TRUE AS below_horizon_loud" +
        ", TRUE AS bytes_gone"))
  )

  /** RACEABLE funnel MV (r18, verdict order #3): the stream-writer and a
    * scheduled compactor deployed as TWO INDEPENDENT JOBS, racing through
    * the DEFAULT APIs — no stageRewriteAt choreography. Under the r17
    * protocol this was the headline `weak`: FunnelMv.ingestBatch and
    * compactFps both committed through the REPLACE_EXISTING marker path,
    * so whichever job acknowledged version v+1 first was silently
    * clobbered by the other (and the MV's view/ledger sidecars — parquet
    * TABLES, too rich for the scalar marker channel — were staged at a
    * SHARED path both writers overwrote before either marked). Now every
    * default commit stages sidecar tables writer-unique (version-nonce
    * directories referenced from the marker body), installs the marker
    * with the link(2) CAS, and retries from the winner's snapshot on a
    * lost race; compaction carries view and ledger via the commit path's
    * auto-carry-forward, so it can never install a stale view over an
    * interleaved ingest. The gate ingests the lower half-batch, then
    * races ingestBatch(upper half) against compactFps on two barrier-
    * aligned threads. Pins: both jobs commit (head = v4 — one winner PER
    * version, no lost update), the ledger holds each batch EXACTLY once,
    * the fp index stays compaction-bounded, and the published view lands
    * on the FULL-RECOMPUTE oracle over base ∪ batch — racing maintenance
    * is logically inert. (Ascending doc_id half-batches make cross-batch
    * keep-first equal global keep-first, so the oracle is exactly
    * q_pipeline_incr_mv's.)
    */
  val dPipelineMvOcc = QueryDef(
    "q_pipeline_mv_occ",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.dedup.FunnelMv
      import graft.sources.{ManifestedPartitions => MP}
      val raw0 = t(s, dir, "documents").filter(col("text").isNotNull)
        .select("doc_id", "text").localCheckpoint(true)
      Dirs.scratch("graft_mv_occ") { stage =>
        val vroot = s"$stage/versioned"
        FunnelMv.writeVersioned(raw0, vroot, MvFpBuckets, E2eMinTokens,
          E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram) // v1
        val sliced = incrInsertBatch(raw0)
          .withColumn("slice", ntile(2).over(Window.orderBy("doc_id")) - 1)
          .localCheckpoint(true)
        val lower = sliced.filter(col("slice") === 0).drop("slice")
          .localCheckpoint(true)
        val upper = sliced.filter(col("slice") === 1).drop("slice")
          .localCheckpoint(true)
        // batch 0 lands sequentially (v2) and fragments the fp buckets
        FunnelMv.ingestBatch(s, vroot, lower, 0L, MvFpBuckets,
          E2eMinTokens, E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
        require(MP.fragmentedParts(s, vroot, FunnelMv.FpsData, "fpb")
          .nonEmpty, "batch 0 left nothing to compact")
        // THE RACE: stream-writer (batch 1) and compactor start together
        // and go through the default APIs only — each CAS-retries
        // internally on a lost version race
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val errs =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def job(body: () => Unit) = new Thread(() =>
          try { barrier.await(); body() }
          catch { case t: Throwable => errs.add(t) })
        val ingester = job(() => {
          FunnelMv.ingestBatch(s, vroot, upper, 1L, MvFpBuckets,
            E2eMinTokens, E2eMaxStopword, E2eMinDistinct, E2eMaxTopBigram)
          ()
        })
        val compactor = job(() => { FunnelMv.compactFps(s, vroot); () })
        ingester.start(); compactor.start()
        ingester.join(300000); compactor.join(300000)
        require(errs.isEmpty, s"a racing default-API writer failed: " +
          s"${errs.peek()}")
        // one winner per version, no lost update: v1 + batch0 + the two
        // racers = exactly 4 committed versions, gapless
        val noLostUpdate = graft.sources.VersionedView
          .committedVersions(vroot) == Seq(1L, 2L, 3L, 4L)
        val head = MP.latestVersion(vroot).get
        // the ledger holds each batch exactly once — a lost-then-retried
        // ingest must not double-record, a clobbered one would be missing
        val ledger = FunnelMv.readApplied(s, vroot, head)
          .groupBy("batch_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val exactlyOnce = ledger == Map(0L -> 1L, 1L -> 1L)
        // compaction survived the race logically inert + bounded layout
        val bounded = MP.liveStats(s, vroot, FunnelMv.FpsData)
          .values.forall(_._1 <= 2)
        FunnelMv.readView(s, vroot, head)
          .withColumn("no_lost_update", lit(noLostUpdate))
          .withColumn("exactly_once", lit(exactlyOnce))
          .withColumn("bounded", lit(bounded))
          .orderBy("stage_ord")
          .localCheckpoint(true)
      }
    },
    Some(incrMvFullRecomputeSql(
      ", TRUE AS no_lost_update, TRUE AS exactly_once, TRUE AS bounded"))
  )

  val all: Seq[QueryDef] =
    Seq(dExact, dJaccard, dComponents, dClusterSizes, dMinHash, dSimHash,
      dEmbed, dSemantic, dFuzzy, dFellegi, dContainment, dLshRecall,
      dBbitMinhash, dNgramNovelty, dDedupImpact, dSurvivorship, dDamerau,
      dPipelineE2e, dPipelineIncr, dPipelineIncrMv, dPipelineIncrDelete,
      dPipelineIncrVacuum, dPipelineMvTimetravel, dPipelineMvStreamIngest,
      dPipelineMvExpire, dPipelineMvOcc)
}
