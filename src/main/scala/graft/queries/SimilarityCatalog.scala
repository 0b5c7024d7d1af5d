package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Dirs

import QueryDef._
import graft.similarity.Ann

/** Similarity-search twins over the `embeddings` table (builder brief):
  * exact brute-force cosine top-k (oracle-checked — both engines fold the
  * dot product sequentially in double, so scores match bit-for-bit) and the
  * IVF-bucketed scale path, whose oracle replays probe-selection + exact
  * re-rank in DuckDB from dumped cell assignments and centroids (the
  * hashCentroids decimal-sum aggregation makes the centroids bit-identical
  * across the dump and the gated query, so no state is shared).
  */
object SimilarityCatalog {

  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.similarity.Ann.{hashCentroids, normalizeCentroids, assignCells}

  // Shared IVF parameters, interpolated into both the Spark call and the
  // oracle SQL (and used by the aux dumps) so they can never drift.
  private val IvfCells = 8
  private val IvfProbe = 3
  private val TopK = 4
  private val QueryIdMax = 5

  // kNN-eval query-set bound (r13): the leave-one-out eval set is
  // charter-FIXED at vec_id < 500 — the whole corpus at sf0.01 (so the
  // r12 gate's results are unchanged) but a 4×-reduced set at sf0.1 and a
  // constant set under the soak's vec_id-shifted copies, so eval cost
  // grows linearly with the corpus instead of quadratically. Production
  // inference routes through the IVF index (q_s_knn_ivf below).
  private val KnnEvalMax = 500

  // PQ parameters: 64-dim embeddings (TESTDATA.md) → 8 subspaces × 8 dims,
  // 16-centroid codebooks ⇒ 8-byte codes, 32× compression of float[64].
  private val PqDim = 64
  private val PqM = 8
  private val PqSub = PqDim / PqM
  private val PqK = 16

  /** A kNN probe's gate rows: self-matches dropped, then (query_id,
    * rank BIGINT, nn_id, score) — `score` defaults to the cosine rounded
    * to 6 places.
    */
  private def nnRows(df: DataFrame,
      score: org.apache.spark.sql.Column = r6(col("cos")).as("cos"))
      : DataFrame =
    df.filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nn_id"), score)

  /** Spark-computed intermediates the IVF oracle replays: corpus→cell
    * assignments and the L2-normalized centroids the probe ranking scored
    * against.
    */
  val auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ivf_cells" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      assignCells(e, "vec_id", "embedding",
          hashCentroids(e, "vec_id", "embedding", IvfCells))
        .select("id", "cell")
    }),
    "ivf_centroids" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      normalizeCentroids(
          hashCentroids(t(s, dir, "embeddings"), "vec_id", "embedding",
            IvfCells))
        .map { case (cell, c) => (cell, c.toSeq) }
        .toDF("cell", "c")
    }),
    // PQ codebooks (subspace m, dense code k, centroid c): the decimal-sum
    // training makes these bit-identical to the codebooks the gated query
    // trains independently, so the oracle replays encoding + the full ADC
    // search from this dump and the raw embeddings alone.
    "pq_codebooks" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      graft.similarity.Pq
        .trainCodebooks(t(s, dir, "embeddings"), "vec_id", "embedding",
          PqDim, PqM, PqK)
        .map { case (m, k, c) => (m, k, c.toSeq) }
        .toDF("m", "k", "c")
    }),
    // √n-scaled IVF index (q_s_ivf_scaled): cell count derived from the
    // corpus row count by the integer √n rule, so the dumps and the gated
    // query can never disagree on the index geometry
    "ivf_scaled_cells" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val c = scaledCellCount(e.count())
      assignCells(e, "vec_id", "embedding",
          hashCentroids(e, "vec_id", "embedding", c))
        .select("id", "cell")
    }),
    "ivf_scaled_centroids" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val e = t(s, dir, "embeddings")
      val c = scaledCellCount(e.count())
      normalizeCentroids(hashCentroids(e, "vec_id", "embedding", c))
        .map { case (cell, cv) => (cell, cv.toSeq) }
        .toDF("cell", "c")
    }),
    // index-APPEND gate (q_s_ivf_append): centroids trained on the 90%
    // base only, assignment = base via build-time path + the withheld 10%
    // batch via the frozen-quantizer append path — recomputed here via
    // the same deterministic functions the gate's persisted index used
    "ivf_append_cells" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val raw = hashCentroids(base, "vec_id", "embedding",
        scaledCellCount(base.count()))
      assignCells(base, "vec_id", "embedding", raw)
        .unionByName(graft.similarity.Ann.assignCellsNormalized(
          e.filter(isDelta), "vec_id", "embedding",
          normalizeCentroids(raw)))
        .select("id", "cell")
    }),
    "ivf_base_centroids" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val e = t(s, dir, "embeddings")
      val base = e.filter(pmod(col("vec_id"), lit(10)) =!= 7)
      normalizeCentroids(hashCentroids(base, "vec_id", "embedding",
          scaledCellCount(base.count())))
        .map { case (cell, cv) => (cell, cv.toSeq) }
        .toDF("cell", "c")
    }),
    // IVF-PQ: RAW coarse centroids (the gate's residuals subtract these)
    // and the codebooks trained on the residuals — decimal-sum training
    // makes both bit-identical to what the gated query computes
    // independently, so the oracle replays assignment, residuals,
    // encoding, and the probed ADC search from these + raw embeddings.
    "ivfpq_centroids" -> ((s, dir) => ivfPqParts(s, dir)._3),
    "ivfpq_codebooks" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      ivfPqParts(s, dir)._5
        .map { case (m, k, c) => (m, k, c.toSeq) }
        .toDF("m", "k", "c")
    }),
    // IVF-PQ append gate: centroids + codebooks trained on the 90% base
    // only (the frozen parts its persisted index was built from) — the
    // replay assigns/encodes ALL vectors against them, which IS the
    // frozen-quantizer append semantics
    "ivfpq_base_centroids" -> ((s, dir) =>
      ivfPqPartsOf(s, t(s, dir, "embeddings")
        .filter(pmod(col("vec_id"), lit(10)) =!= 7))._3),
    "ivfpq_base_codebooks" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      ivfPqPartsOf(s, t(s, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(10)) =!= 7))._5
        .map { case (m, k, c) => (m, k, c.toSeq) }
        .toDF("m", "k", "c")
    }))

  /** Exact top-3 neighbors (excluding self) for query vectors vec_id < 5. */
  val sBrute = QueryDef(
    "q_s_cosine_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", "vec_id", k = 4)
        .filter(col("nn_id") =!= col("query_id"))
        .select(col("query_id"), col("nn_id"), r6(col("cos")).as("cos"))
        .orderBy(col("query_id"), desc("cos"), col("nn_id"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, e.vec_id AS nn_id,
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM embeddings e CROSS JOIN q),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, nn_id, ${sqlR6("cos")} AS cos
      FROM ranked WHERE rank <= 4 AND nn_id <> query_id
      ORDER BY query_id, cos DESC, nn_id""")
  )

  /** Smallest power of two c with c² ≥ n — the √n-rule coarse cell count
    * (IVF standard practice: per-cell list length ≈ √n, so per-query work
    * nProbe·n/c ≈ nProbe·√n instead of a fixed fraction of the corpus).
    * Integer arithmetic only, so both the aux dumps and the gated query
    * derive the identical count from the corpus row count.
    */
  private[graft] def scaledCellCount(n: Long): Int = {
    var c = 1
    while (c.toLong * c < n) c *= 2
    c
  }
  private val IvfScaledProbe = 4

  /** IVF-style bucketed ANN (deterministic hash-seeded coarse cells,
    * nProbe re-rank). The oracle replays, from the aux dumps: (1) probe
    * ranking — dot(query, normalized centroid), top `IvfProbe` cells per
    * query; (2) exact cosine re-rank within the probed cells, ranks
    * computed BEFORE dropping self-matches, exactly like the Spark plan.
    */
  val sIvf = QueryDef(
    "q_s_ivf_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Ann.ivfTopK(e, e.filter(col("vec_id") < QueryIdMax), "vec_id",
          "embedding", "vec_id", k = TopK, nCells = IvfCells, nProbe = IvfProbe)
        .transform(nnRows(_))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cells AS (SELECT id, cell FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_cells/*.parquet')),
      cents AS (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_centroids/*.parquet')),
      q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id < $QueryIdMax),
      probes AS (
        SELECT query_id, qv, cell,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY s DESC, cell) AS probe_rank
        FROM (SELECT q.query_id, q.qv, cents.cell,
                     list_sum(list_transform(list_zip(q.qv, cents.c),
                       p -> p[1] * p[2])) AS s
              FROM q CROSS JOIN cents)),
      pq AS (SELECT query_id, qv, cell FROM probes
             WHERE probe_rank <= $IvfProbe),
      corpus AS (
        SELECT e.vec_id AS nn_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv,
               cells.cell
        FROM embeddings e JOIN cells ON cells.id = e.vec_id),
      scored AS (
        SELECT pq.query_id, corpus.nn_id,
               list_sum(list_transform(list_zip(corpus.cv, pq.qv),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(corpus.cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(pq.qv, x -> x * x)))) AS cos
        FROM corpus JOIN pq ON corpus.cell = pq.cell),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             ${sqlR6("cos")} AS cos
      FROM ranked WHERE rank <= $TopK AND nn_id <> query_id
      ORDER BY query_id, rank""")
  )

  /** √n-SCALED IVF ANN — the index geometry production actually deploys
    * (and the scale answer to the fixed-8-cell gate above): the coarse
    * cell count is the smallest power of two with c² ≥ corpus size, so
    * per-cell inverted lists stay ≈ √n long and a fixed-nProbe query
    * touches ≈ nProbe·√n candidates instead of a constant FRACTION of the
    * corpus — the property that keeps per-query cost sublinear as the
    * corpus grows (at sf0.01's 500 vectors c = 32; at a 30× soak's 60k
    * vectors c = 256, so probe mass falls from 4/32 to 4/256). Same
    * deterministic hash-seeded centroids, probe ranking, and exact
    * in-cell re-rank as q_s_ivf_topk; the oracle replays from the
    * scaled aux dumps, whose cell count derives from the same integer
    * √n rule.
    */
  /** Parameterized IVF replay oracle, shared by q_s_ivf_scaled,
    * q_s_ivf_persist, and q_s_ivf_append: every one publishes the same
    * probe-ranking + exact-in-cell-re-rank answer over some deterministic
    * (cells, centroids) index — decimal-sum centroids and exact double
    * parquet round-trips make building in-query, probing a persisted
    * on-disk index, and probing an appended index observationally
    * equivalent given the same dumps. DuckDB replays probe ranking +
    * re-rank from the named aux dumps.
    */
  private def ivfReplaySql(cellsAux: String, centsAux: String,
      corpusWhere: String = ""): String = s"""
      WITH cells AS (SELECT id, cell FROM
        read_parquet('__VERIFY_OUT__/_aux/$cellsAux/*.parquet')),
      cents AS (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/$centsAux/*.parquet')),
      q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id < $QueryIdMax),
      probes AS (
        SELECT query_id, qv, cell,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY s DESC, cell) AS probe_rank
        FROM (SELECT q.query_id, q.qv, cents.cell,
                     list_sum(list_transform(list_zip(q.qv, cents.c),
                       p -> p[1] * p[2])) AS s
              FROM q CROSS JOIN cents)),
      pq AS (SELECT query_id, qv, cell FROM probes
             WHERE probe_rank <= $IvfScaledProbe),
      corpus AS (
        SELECT e.vec_id AS nn_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv,
               cells.cell
        FROM embeddings e JOIN cells ON cells.id = e.vec_id $corpusWhere),
      scored AS (
        SELECT pq.query_id, corpus.nn_id,
               list_sum(list_transform(list_zip(corpus.cv, pq.qv),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(corpus.cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(pq.qv, x -> x * x)))) AS cos
        FROM corpus JOIN pq ON corpus.cell = pq.cell),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank
        FROM scored)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             ${sqlR6("cos")} AS cos
      FROM ranked WHERE rank <= $TopK AND nn_id <> query_id
      ORDER BY query_id, rank"""

  val sIvfScaled = QueryDef(
    "q_s_ivf_scaled",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val c = scaledCellCount(e.count())
      Ann.ivfTopK(e, e.filter(col("vec_id") < QueryIdMax), "vec_id",
          "embedding", "vec_id", k = TopK, nCells = c,
          nProbe = IvfScaledProbe)
        .transform(nnRows(_))
        .orderBy("query_id", "rank")
    },
    Some(ivfReplaySql("ivf_scaled_cells", "ivf_scaled_centroids"))
  )

  /** PERSISTED-index lifecycle gate (r13 verdict order #3) — the shape a
    * 100 TB deployment actually runs: build the √n-scaled IVF index ONCE
    * (centroids + CELL-PARTITIONED inverted lists written as parquet),
    * then answer queries from a COLD read of the persisted artifact with
    * no access to the original corpus DataFrame. The probe-only read is
    * partition-PRUNED: `cell` is a parquet partition column, so a batch
    * of queries probing p distinct cells scans only those p directories —
    * at 1000-executor scale the probe reads nProbe·√n rows per query off
    * object storage instead of rescanning the corpus (build cost is paid
    * once and amortized across every query thereafter; PersistedIvfSpec
    * measures the split and asserts probe ≪ build). Results are
    * bit-identical to the in-query q_s_ivf_scaled — deterministic
    * centroids + exact double round-trip through parquet — so the same
    * DuckDB oracle gates both.
    */
  val sIvfPersist = QueryDef(
    "q_s_ivf_persist",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val c = scaledCellCount(e.count())
      Dirs.scratch("graft_ivf_persist") { stage =>
        IvfIndex.write(e, "vec_id", "embedding", c, stage.toString)
        IvfIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          // materialize before the persisted index is deleted below
          .localCheckpoint(true)
      }
    },
    Some(ivfReplaySql("ivf_scaled_cells", "ivf_scaled_centroids"))
  )

  /** INDEX-APPEND lifecycle gate (r14): incremental maintenance of the
    * persisted IVF index — the daily-ingest path of a growing corpus. A
    * 10% vector batch (vec_id % 10 == 7) is withheld from the build: the
    * index is trained and persisted on the other 90%, then the batch is
    * APPENDED — each new vector assigned to its nearest FROZEN stored
    * centroid, its row landing as a new file in that cell's existing
    * partition dir (ingest cost ∝ batch, never corpus; the standard
    * static-coarse-quantizer practice, retraining on a slow cadence).
    * The probe then answers from the appended index and must rank the
    * new vectors alongside the old ones exactly: the oracle replays
    * probe + re-rank in DuckDB from aux dumps of the BASE-trained
    * centroids and the combined assignment, both recomputed
    * independently via the same deterministic (decimal-sum, frozen-
    * quantizer) functions. AppendIvfSpec additionally proves
    * append ≡ rebuild-with-frozen-quantizer bit-for-bit and that an
    * appended vector is findable at rank 1 by its own query.
    */
  val sIvfAppend = QueryDef(
    "q_s_ivf_append",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val c = scaledCellCount(base.count())
      Dirs.scratch("graft_ivf_append") { stage =>
        IvfIndex.write(base, "vec_id", "embedding", c, stage.toString)
        IvfIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        IvfIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(ivfReplaySql("ivf_append_cells", "ivf_base_centroids"))
  )

  /** INDEX-COMPACTION lifecycle gate (r15, verdict order #2): the
    * maintenance step between append and probe that keeps a long-lived
    * index fast. Same build/append shape as q_s_ivf_append — train on the
    * 90% base, append the withheld 10% batch under the frozen quantizer
    * (which lands one EXTRA file in every touched cell) — then
    * `IvfIndex.compact` rewrites exactly the fragmented cells back to one
    * file each (partition-pruned read, cell-local rewrite, directory
    * swap). The probe answers from the compacted index and must return
    * results bit-identical to the uncompacted one — compaction is a
    * physical-layout operation with zero logical effect — so the gate
    * shares q_s_ivf_append's oracle replay. CompactIvfSpec additionally
    * asserts files-per-cell == 1 after compaction, pre/post probe
    * bit-equality, and untouched-cell no-op.
    */
  val sIvfCompact = QueryDef(
    "q_s_ivf_compact",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val c = scaledCellCount(base.count())
      Dirs.scratch("graft_ivf_compact") { stage =>
        IvfIndex.write(base, "vec_id", "embedding", c, stage.toString)
        IvfIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        val compacted = IvfIndex.compact(s, stage.toString)
        // the append must actually have fragmented something, or the
        // gate silently degenerates to a re-run of q_s_ivf_append
        require(compacted > 0, "append left no fragmented cells")
        IvfIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(ivfReplaySql("ivf_append_cells", "ivf_base_centroids"))
  )

  /** INDEX-DELETE lifecycle gate for the persisted IVF index — the GDPR
    * leg (build / probe / append / compact / DELETE completes the ANN
    * family): a ninth of the vectors (vec_id % 9 == 4) is tombstoned out
    * of the full-corpus √n-scaled index — only the cells holding them are
    * rewritten (partition-local anti-join swap; an emptied cell's
    * directory is retired) and the bytes are gone, not masked. The probe
    * then answers from the vacuumed artifact; note query vector 4 is
    * itself deleted, making it an out-of-index query — the realistic
    * "search with a removed user's vector" shape. The oracle replays
    * probe + re-rank from the full-corpus dumps with the tombstoned slice
    * filtered out of the corpus side, so a deleted vector still ranked —
    * or a live one wrongly vacuumed — flips the hash. IvfDeleteSpec pins
    * physical absence and untouched-cell file identity.
    */
  val sIvfDelete = QueryDef(
    "q_s_ivf_delete",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val c = scaledCellCount(e.count())
      Dirs.scratch("graft_ivf_delete") { stage =>
        IvfIndex.write(e, "vec_id", "embedding", c, stage.toString)
        val purged = IvfIndex.delete(s, stage.toString,
          e.filter(pmod(col("vec_id"), lit(9)) === 4)
            .select(col("vec_id").as("id")))
        require(purged > 0, "tombstone batch purged nothing")
        IvfIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(ivfReplaySql("ivf_scaled_cells", "ivf_scaled_centroids",
      "WHERE e.vec_id % 9 <> 4"))
  )

  /** TORN-MAINTENANCE gate (r16, verdict order #1): the crash-shape proof
    * for manifest-committed index maintenance. Build on the 90% base,
    * append the withheld batch, then run a compaction that DIES between
    * its two halves — the rewritten generation is fully staged on disk
    * but the marker is never written (ManifestedPartitions.stageRewrite
    * without the commit, exactly the q_pipeline_mv_timetravel torn-v3
    * discipline applied to index maintenance). The published probe runs
    * against the index in that torn state and must serve the
    * PRE-MAINTENANCE snapshot bit-exactly — the oracle replays the
    * appended index, so a probe that saw the half-committed generation
    * (or, as the old two-move swap could, a MISSING cell) flips the
    * hash. `torn_invisible` pins that the committed version is still the
    * append's, and `healed_equal` pins that re-running the maintenance
    * to completion (the recovery story: staged generation overwritten,
    * marker lands) leaves probe results bit-identical. TornMaintSpec
    * additionally pins the staged bytes' presence and the live-file-set
    * invariance under the torn run.
    */
  val sIvfTornCompact = QueryDef(
    "q_s_ivf_torn_compact",
    (s, dir) => {
      import graft.similarity.IvfIndex
      import graft.sources.ManifestedPartitions
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val c = scaledCellCount(base.count())
      Dirs.scratch("graft_ivf_torn") { stage =>
        IvfIndex.write(base, "vec_id", "embedding", c, stage.toString)
        IvfIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        def probeRows() = IvfIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
        // TORN compaction: new generation staged, marker never written
        val frag = ManifestedPartitions.fragmentedParts(
          s, stage.toString, "lists", "cell")
        require(frag.nonEmpty, "append left no fragmented cells")
        ManifestedPartitions.stageRewrite(
          s, stage.toString, "lists", "cell", frag, identity)
        val tornInvisible =
          ManifestedPartitions.latestVersion(stage.toString).contains(2L)
        val torn = probeRows()
        val tornVals = torn.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3))).toSeq
        // HEAL: the re-run overwrites the staged generation and commits
        val (gen, merged) = ManifestedPartitions.stageRewrite(
          s, stage.toString, "lists", "cell", frag, identity)
        ManifestedPartitions.commitManifests(s, stage.toString, gen,
          Map("lists" -> merged))
        val healedVals = probeRows().collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        torn
          .withColumn("torn_invisible", lit(tornInvisible))
          .withColumn("healed_equal", lit(tornVals == healedVals))
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT r.*, TRUE AS torn_invisible, TRUE AS healed_equal
      FROM (${ivfReplaySql("ivf_append_cells", "ivf_base_centroids")}) r
      ORDER BY query_id, rank""")
  )

  /** SNAPSHOT-ISOLATED (version-pinned) probe gate (r16, verdict order
    * #3): the read-side half of the commit protocol. A long-running probe
    * opens the manifest at version 1 (the base-only index) and keeps
    * serving exactly that snapshot while a maintenance job commits
    * version 2 (the appended batch) — the pinned plan's directory list
    * was resolved at open time and the committed generations are
    * immutable, so its results cannot change under it ("isolated" pins
    * the before/after collect equality). A FRESH probe resolves latest
    * and sees the appended vectors. The oracle recomputes BOTH snapshots
    * independently: version 1 = the replay with the batch filtered off
    * the corpus side, version 2 = the full frozen-quantizer append
    * replay.
    */
  val sIvfSnapshotProbe = QueryDef(
    "q_s_ivf_snapshot_probe",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val c = scaledCellCount(base.count())
      val q = e.filter(col("vec_id") < QueryIdMax).localCheckpoint(true)
      Dirs.scratch("graft_ivf_snapshot") { stage =>
        IvfIndex.write(base, "vec_id", "embedding", c, stage.toString) // v1
        def shape(df: DataFrame) =
          nnRows(df).orderBy("query_id", "rank")
        // the long-running probe OPENS v1 now: its pruned directory list
        // is resolved against v1's manifest at construction
        val pinned = shape(IvfIndex.probe(s, stage.toString, q,
          "vec_id", "embedding", k = TopK, nProbe = IvfScaledProbe,
          version = Some(1L)))
        val preVals = pinned.collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        // maintenance commits v2 while the probe is "running"
        IvfIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        // the pinned probe finishes AFTER the commit: same results
        val postVals = pinned.collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        val fresh = shape(IvfIndex.probe(s, stage.toString, q,
          "vec_id", "embedding", k = TopK, nProbe = IvfScaledProbe))
        pinned.withColumn("version", lit(1L))
          .unionByName(fresh.withColumn("version", lit(2L)))
          .withColumn("isolated", lit(preVals == postVals))
          .select(col("version"), col("query_id"), col("rank"),
            col("nn_id"), col("cos"), col("isolated"))
          .orderBy("version", "query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS version, r1.*, TRUE AS isolated
        FROM (${ivfReplaySql("ivf_append_cells", "ivf_base_centroids",
          "WHERE e.vec_id % 10 <> 7")}) r1
        UNION ALL
        SELECT CAST(2 AS BIGINT), r2.*, TRUE
        FROM (${ivfReplaySql("ivf_append_cells", "ivf_base_centroids")}) r2)
      ORDER BY version, query_id, rank""")
  )

  /** OPTIMISTIC-CONCURRENCY maintenance gate (r16): TWO maintenance
    * writers race from the same snapshot — the compactor and a GDPR
    * delete both stage new generations against version 2 (writer-unique
    * generation ids, so their staged files can't clobber each other),
    * then race the version-3 commit. The marker is installed by an
    * atomic link-if-absent CAS carrying the manifest IN its body
    * (ManifestedPartitions.commitManifestsCas), so exactly one writer
    * wins; the loser's commit returns false — the LOST-UPDATE shape a
    * replace-marker would have silently swallowed — and it re-stages
    * its delete against the winner's committed snapshot and lands as
    * version 4. The probe answers from v4 and must show BOTH effects:
    * the oracle replays the appended index minus the tombstoned slice
    * (compaction is logically inert, so delete-only replay IS the
    * both-effects answer), `conflict_detected` pins the exact
    * win/lose/retry sequence, and `compaction_survived` pins that the
    * winner's rewrite is still live after the loser's retry (no
    * fragmented cell remains). OccMaintSpec additionally pins that v3's
    * committed manifest is the WINNER's and the abandoned staged
    * generation is unreferenced garbage collected by expire.
    */
  val sIvfOccMaint = QueryDef(
    "q_s_ivf_occ_maint",
    (s, dir) => {
      import graft.similarity.IvfIndex
      import graft.sources.ManifestedPartitions
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val c = scaledCellCount(base.count())
      Dirs.scratch("graft_ivf_occ") { stage =>
        val root = stage.toString
        IvfIndex.write(base, "vec_id", "embedding", c, root) // v1
        IvfIndex.append(s, root, e.filter(isDelta),
          "vec_id", "embedding") // v2
        // writer 1 (compactor) and writer 2 (delete) both read v2
        val frag = ManifestedPartitions.fragmentedParts(
          s, root, "lists", "cell")
        require(frag.nonEmpty, "append left no fragmented cells")
        val ts = e.filter(pmod(col("vec_id"), lit(9)) === 4)
          .select(col("vec_id").as("id")).localCheckpoint(true)
        val affected = ManifestedPartitions.read(s, root, "lists", "cell",
            ManifestedPartitions.readEntries(s, root, "lists", 2L))
          .select("id", "cell").join(broadcast(ts), Seq("id"))
          .select("cell").distinct().collect().map(_.getInt(0)).toSeq
        require(affected.nonEmpty, "tombstones hit no cell")
        val anti = (df: DataFrame) =>
          df.join(broadcast(ts), Seq("id"), "left_anti")
        // both stage against snapshot v2, writer-unique generations
        val w1 = ManifestedPartitions.stageRewriteAt(s, root, "lists",
          "cell", frag, identity, snapshotV = 2L, gen = 101L)
        val w2 = ManifestedPartitions.stageRewriteAt(s, root, "lists",
          "cell", affected, anti, snapshotV = 2L, gen = 102L)
        // the race: one CAS wins version 3, the other detects conflict
        val w1Won = ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("lists" -> w1))
        val w2Lost = !ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("lists" -> w2))
        // loser retries: re-stage the delete on the WINNER's snapshot
        val w2Retry = ManifestedPartitions.stageRewriteAt(s, root, "lists",
          "cell", affected, anti, snapshotV = 3L, gen = 103L)
        val w2Won = ManifestedPartitions.commitManifestsCas(s, root, 4L,
          Map("lists" -> w2Retry))
        require(w1Won && w2Lost && w2Won, "OCC race did not serialize")
        val compactionSurvived = ManifestedPartitions.fragmentedParts(
          s, root, "lists", "cell").isEmpty
        IvfIndex.probe(s, root,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .withColumn("conflict_detected", lit(w1Won && w2Lost && w2Won))
          .withColumn("compaction_survived", lit(compactionSurvived))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT r.*, TRUE AS conflict_detected, TRUE AS compaction_survived
      FROM (${ivfReplaySql("ivf_append_cells", "ivf_base_centroids",
        "WHERE e.vec_id % 9 <> 4")}) r
      ORDER BY query_id, rank""")
  )

  /** STREAMING INGEST into the persisted IVF index — the composition a
    * live corpus actually runs: vectors arrive as a stream, and each
    * micro-batch is appended to the on-disk index under the frozen coarse
    * quantizer (readStream over the staged delta files,
    * maxFilesPerTrigger=1 so the 3 files arrive as ordered micro-batches,
    * foreachBatch → IvfIndex.append — ingest ∝ batch, no index rewrite),
    * followed by the maintenance compaction a deployment schedules, then
    * the probe. Because per-vector assignment under a frozen quantizer is
    * batch-INDEPENDENT, the final index is bit-identical to the one-shot
    * append — so the gate shares q_s_ivf_append's oracle replay, with a
    * pinned `multi_batch` boolean (≥2 micro-batches actually flowed
    * through the streaming engine) so a silent single-batch degeneration
    * flips the hash.
    */
  val sIvfStreamIngest = QueryDef(
    "q_s_ivf_stream_ingest",
    (s, dir) => {
      import graft.similarity.IvfIndex
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      val base = e.filter(!isDelta)
      val delta = e.filter(isDelta)
      val c = scaledCellCount(base.count())
      Dirs.scratch("graft_ivf_stream") { stage =>
        val feed = stage.resolve("feed")
        IvfIndex.write(base, "vec_id", "embedding", c,
          s"${stage.toString}/index")
        // three arrival slices landed with ascending mtimes, pinning the
        // FileStreamSource replay order (the q_e_scd_stream pattern) —
        // one partitioned write stages all three (QueryDef.stageSlices)
        QueryDef.stageSlices(
          delta.withColumn("slice", pmod(col("vec_id"), lit(3))),
          "slice", 3, stage)
        (0 until 3).foreach(landSlice(stage, feed, _))
        var batches = 0
        val q = s.readStream.schema(delta.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(feed.toString)
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            if (!b.isEmpty) {
              IvfIndex.append(s, s"${stage.toString}/index", b,
                "vec_id", "embedding")
              batches += 1
            }
          }.start()
        try q.processAllAvailable() finally q.stop()
        require(batches >= 2,
          s"streaming ingest coalesced to $batches micro-batches")
        val compacted = IvfIndex.compact(s, s"${stage.toString}/index")
        require(compacted > 0, "ingest left no fragmented cells")
        IvfIndex.probe(s, s"${stage.toString}/index",
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IvfScaledProbe)
          .transform(nnRows(_))
          .withColumn("multi_batch", lit(batches >= 2))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT r.*, TRUE AS multi_batch
      FROM (${ivfReplaySql("ivf_append_cells", "ivf_base_centroids")}) r
      ORDER BY query_id, rank""")
  )

  /** Product-quantization ADC top-k (similarity.Pq). The oracle replays
    * THE WHOLE SEARCH in DuckDB from the dumped codebooks and the raw
    * embeddings: (1) per-(vector, subspace, code) squared distances —
    * the same sequential double fold as the Spark plan; (2) encoding =
    * argmin with (distance, code) tie-break; (3) the query ADC tables are
    * the query rows of the same distance relation; (4) each corpus
    * vector's approximate distance sums its m looked-up table entries in
    * subspace order (`list_sum(list(d ORDER BY m))` ≡ Spark's ordered
    * fold); (5) rank by (adc, nn_id) before dropping self-matches,
    * exactly like the Spark plan.
    */
  val sPq = QueryDef(
    "q_s_pq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Pq.adcTopK(e, e.filter(col("vec_id") < QueryIdMax),
          "vec_id", "embedding", "vec_id", topK = TopK, dim = PqDim,
          m = PqM, k = PqK)
        .transform(nnRows(_, r6(col("adc")).as("adc")))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH cb AS (SELECT m, k, c FROM
        read_parquet('__VERIFY_OUT__/_aux/pq_codebooks/*.parquet')),
      corpus AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
      vd AS (
        SELECT corpus.vec_id, cb.m, cb.k,
               list_sum(list_transform(
                 list_zip(list_slice(corpus.v, cb.m*$PqSub + 1,
                                     cb.m*$PqSub + $PqSub), cb.c),
                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        FROM corpus CROSS JOIN cb),
      codes AS (
        SELECT vec_id, m, k AS code FROM (
          SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d, k) AS rn
          FROM vd)
        WHERE rn = 1),
      qd AS (SELECT vec_id AS query_id, m, k, d FROM vd
             WHERE vec_id < $QueryIdMax),
      adc AS (
        SELECT qd.query_id, codes.vec_id AS nn_id,
               list_sum(list(qd.d ORDER BY qd.m)) AS adc
        FROM codes JOIN qd ON codes.m = qd.m AND codes.code = qd.k
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, nn_id, adc,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc, nn_id) AS rank
        FROM adc)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             ${sqlR6("adc")} AS adc
      FROM ranked WHERE rank <= $TopK AND nn_id <> query_id
      ORDER BY query_id, rank""")
  )

  /** Scalar-quantized (int8) ANN — similarity.Sq: per-dimension affine
    * codes in [0, 255] from one corpus min/max scan, approximate ranking
    * by EXACT integer squared distance between code arrays. The oracle
    * replays the whole search from the raw embeddings alone (no aux
    * state): the quantization rule `floor((x − min)·255/span + 0.5)` is
    * the same IEEE op sequence in both engines and everything after it is
    * integer arithmetic, so query_id/rank/nn_id/sqd are all bit-exact.
    */
  val sSq = QueryDef(
    "q_s_sq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.similarity.Sq.sqTopK(e, e.filter(col("vec_id") < QueryIdMax),
          "vec_id", "embedding", "vec_id", k = TopK, dim = PqDim)
        .transform(nnRows(_, col("sqd")))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH ex AS (
        SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, $PqDim + 1)) AS d)),
      dims AS (
        SELECT d, min(x) AS dmin, max(x) - min(x) AS span FROM ex GROUP BY 1),
      codes AS (
        SELECT ex.vec_id, ex.d,
               CASE WHEN dims.span = 0 THEN 0
                    ELSE CAST(floor((ex.x - dims.dmin) * 255e0 / dims.span
                                    + 0.5) AS BIGINT)
               END AS c
        FROM ex JOIN dims USING (d)),
      q AS (SELECT vec_id AS query_id, d, c FROM codes
            WHERE vec_id < $QueryIdMax),
      sqd AS (
        SELECT q.query_id, codes.vec_id AS nn_id,
               sum((q.c - codes.c) * (q.c - codes.c)) AS sqd
        FROM codes JOIN q ON codes.d = q.d
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, nn_id, sqd,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sqd, nn_id) AS rank
        FROM sqd)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             CAST(sqd AS BIGINT) AS sqd
      FROM ranked WHERE rank <= $TopK AND nn_id <> query_id
      ORDER BY query_id, rank""")
  )

  // DuckDB spelling of text.TextAnalysis.normText for the documents table
  // (declared BEFORE the QueryDef that interpolates it — object vals
  // initialize top-down and a forward reference interpolates null)
  private val sqlNormDoc = "trim(regexp_replace(text, '\\s+', ' ', 'g'))"

  /** Sparse all-pairs cosine over tf-idf document vectors via
    * similarity.SparseCosine — the inverted-index all-pairs shape
    * (token-keyed self-join, df-capped fanout, no |docs|² scan).
    * Milli-weight quantization makes norms, dots, and the τ = 1/2
    * threshold test exact integer arithmetic, so every reported pair is
    * bit-exact (`cos` takes r6 for the one float division).
    */
  val sSparse = QueryDef(
    "q_s_sparse_cosine",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          lower(graft.text.TextAnalysis.normText(col("text"))).as("nt"))
        .filter(length(col("nt")) > 0)
        .select(col("doc_id"), explode(split(col("nt"), " ")).as("w"))
      val nDocs = toks.select("doc_id").distinct().count()
      graft.similarity.SparseCosine
        .pairs(toks, "doc_id", "w", 1, 2, nDocs / 2)
        .select(col("da"), col("db"), col("dot"), col("na2"), col("nb2"),
          r6(col("cos")).as("cos"))
        .orderBy("da", "db")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, lower($sqlNormDoc) AS nt FROM documents
        WHERE length($sqlNormDoc) > 0),
      tok AS (
        SELECT doc_id AS d, unnest(string_split(nt, ' ')) AS w FROM t),
      tf AS (SELECT d, w, count(*) AS tf FROM tok GROUP BY 1, 2),
      nd AS (SELECT count(DISTINCT d) AS n FROM tok),
      dfc AS (
        SELECT w, count(*) AS df FROM tf GROUP BY 1
        HAVING count(*) <= (SELECT n FROM nd) // 2),
      wq AS (
        SELECT * FROM (
          SELECT tf.d, tf.w,
                 CAST(floor(CAST(tf AS DOUBLE)
                   * ln(CAST(nd.n AS DOUBLE) / CAST(dfc.df AS DOUBLE))
                   * 1e3 + 0.5) AS BIGINT) AS wq
          FROM tf JOIN dfc ON dfc.w = tf.w CROSS JOIN nd)
        WHERE wq <> 0),
      norms AS (
        SELECT d, sum(CAST(wq AS HUGEINT) * wq) AS n2
        FROM wq GROUP BY 1),
      dots AS (
        SELECT a.d AS da, b.d AS db,
               sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
        FROM wq a JOIN wq b ON a.w = b.w AND a.d < b.d
        GROUP BY 1, 2),
      pr AS (
        SELECT da, db, dot, na.n2 AS na2, nb.n2 AS nb2
        FROM dots
        JOIN norms na ON na.d = da
        JOIN norms nb ON nb.d = db
        WHERE dot > 0 AND 4 * dot * dot >= na2 * nb2)
      SELECT da, db, CAST(dot AS BIGINT) AS dot,
             CAST(na2 AS BIGINT) AS na2, CAST(nb2 AS BIGINT) AS nb2,
             ${sqlR6("""CAST(dot AS DOUBLE)
               / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))""")}
               AS cos
      FROM pr ORDER BY da, db""")
  )

  // q_s_recall_ivf query-set bound — wider than the per-neighbor gated
  // queries (5) so the recall estimate averages over a real sample
  private val RecallQMax = 50

  /** ANN rollout audit: recall of the IVF-probed top-k against the
    * exact brute-force top-k over the same [[RecallQMax]]-query set —
    * the acceptance gate every approximate-index deployment runs before
    * replacing the exact path. Both sides rank with the identical
    * (cos desc, nn_id) total order including self, then drop self; the
    * TP join and all counts are exact integers; recall is one division
    * (r6). The oracle recomputes the BRUTE side raw in DuckDB and
    * replays the IVF side (probe ranking + in-cell re-rank) from the
    * aux dumps — both inputs independently derived, the audit join
    * checked on top. Scale: brute truth over a query SAMPLE is the
    * standard recall methodology (cost = |sample| × corpus, one
    * broadcast of the sample).
    */
  val sRecallIvf = QueryDef(
    "q_s_recall_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < RecallQMax)
      val truth = Ann.bruteForceTopK(e, q, "vec_id", "embedding",
          "vec_id", k = TopK)
        .filter(col("nn_id") =!= col("query_id"))
        .select("query_id", "nn_id")
      val pred = Ann.ivfTopK(e, q, "vec_id", "embedding", "vec_id",
          k = TopK, nCells = IvfCells, nProbe = IvfProbe)
        .filter(col("nn_id") =!= col("query_id"))
        .select("query_id", "nn_id")
      val nt = truth.agg(count(lit(1)).as("n_true"),
        count_distinct(col("query_id")).as("n_queries"))
      val np = pred.agg(count(lit(1)).as("n_pred"))
      val tp = truth.join(pred, Seq("query_id", "nn_id"))
        .agg(count(lit(1)).as("n_tp"))
      nt.crossJoin(broadcast(np)).crossJoin(broadcast(tp))
        .select(col("n_queries"), col("n_true"), col("n_pred"),
          col("n_tp"),
          r6(col("n_tp").cast("double") / col("n_true").cast("double"))
            .as("recall"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                 FROM embeddings WHERE vec_id < $RecallQMax),
      -- the brute side mirrors Ann.bruteForceTopK's exact operand order:
      -- L2-normalize EACH vector first, then dot the normalized vectors
      -- (dot-raw-then-divide computes the same cosine only up to 1 ulp,
      -- which can flip rank-k membership on near-ties across engines)
      qn AS (SELECT query_id,
               list_transform(qv, x -> x /
                 sqrt(list_sum(list_transform(qv, y -> y * y)))) AS qv
             FROM q),
      cn AS (SELECT nn_id,
               list_transform(cv, x -> x /
                 sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
             FROM (SELECT vec_id AS nn_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings)),
      bscored AS (
        SELECT qn.query_id, cn.nn_id,
               list_sum(list_transform(list_zip(cn.cv, qn.qv),
                 p -> p[1] * p[2])) AS cos
        FROM cn CROSS JOIN qn),
      btruth AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, nn_id) AS rank
          FROM bscored)
        WHERE rank <= $TopK AND nn_id <> query_id),
      cells AS (SELECT id, cell FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_cells/*.parquet')),
      cents AS (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_centroids/*.parquet')),
      probes AS (
        SELECT query_id, qv, cell,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY s DESC, cell) AS probe_rank
        FROM (SELECT q.query_id, q.qv, cents.cell,
                     list_sum(list_transform(list_zip(q.qv, cents.c),
                       p -> p[1] * p[2])) AS s
              FROM q CROSS JOIN cents)),
      pq AS (SELECT query_id, qv, cell FROM probes
             WHERE probe_rank <= $IvfProbe),
      corpus AS (
        SELECT e.vec_id AS nn_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv,
               cells.cell
        FROM embeddings e JOIN cells ON cells.id = e.vec_id),
      iscored AS (
        SELECT pq.query_id, corpus.nn_id,
               list_sum(list_transform(list_zip(corpus.cv, pq.qv),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(corpus.cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(pq.qv, x -> x * x))))
                 AS cos
        FROM corpus JOIN pq ON corpus.cell = pq.cell),
      ipred AS (
        SELECT query_id, nn_id FROM (
          SELECT query_id, nn_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, nn_id) AS rank
          FROM iscored)
        WHERE rank <= $TopK AND nn_id <> query_id),
      cnts AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM btruth) AS n_true,
               (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
                FROM btruth) AS n_queries,
               (SELECT CAST(count(*) AS BIGINT) FROM ipred) AS n_pred,
               (SELECT CAST(count(*) AS BIGINT)
                FROM btruth t JOIN ipred p
                  ON p.query_id = t.query_id AND p.nn_id = t.nn_id)
                 AS n_tp)
      SELECT n_queries, n_true, n_pred, n_tp,
             ${sqlR6("CAST(n_tp AS DOUBLE) / CAST(n_true AS DOUBLE)")}
               AS recall
      FROM cnts""")
  )

  /** Johnson–Lindenstrauss random-sign projection + DISTORTION AUDIT —
    * the dimensionality-reduction step an ANN pipeline runs before
    * indexing (Achlioptas 2003: ±1 signs suffice), made cross-engine
    * EXACT by quantizing: each float coordinate becomes the integer
    * q = ⌊x·10⁶⌋ (identical float→double→floor in both engines), signs
    * come from the portable md5-60 parity of `j#d` (a 512-row broadcast
    * table, NOT recomputed per row), and each of the k=8 projections is
    * an exact integer Σ±q. The audit pairs adjacent vec_ids and compares
    * Σ‖Δproj‖² against k·Σ‖Δorig‖² — the JL expectation — as exact
    * integer sums with ONE final division (r6). Scale shape: one
    * explode-to-dims pass, a 512-row broadcast join, two bounded
    * aggregations; no all-pairs anywhere.
    */
  val sJlProject = {
    val K = 8
    val Dim = 64
    QueryDef(
      "q_s_jl_distortion",
      (s, dir) => {
        import graft.functions.Md5Prefix60.md5Prefix60
        val dims = t(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("d", "e")))
          .select(col("vec_id"), col("d").cast("long").as("d"),
            floor(col("e").cast("double") * 1e6).cast("long").as("q"))
        val signs = broadcast(s.range(K).select(col("id").as("j"))
          .crossJoin(s.range(Dim).select(col("id").as("d")))
          .select(col("j"), col("d"),
            when(pmod(md5Prefix60(Seq(col("j"), col("d"))), lit(2L)) === 0L,
              1L).otherwise(-1L).as("sgn")))
        val proj = dims.join(signs, Seq("d"))
          .groupBy("vec_id", "j")
          .agg(sum(col("sgn") * col("q")).as("y"))
        def pairs(df: org.apache.spark.sql.DataFrame, axis: String,
            v: String) = {
          val a = df.filter(pmod(col("vec_id"), lit(2)) === 0)
            .select(col("vec_id").as("pid"), col(axis), col(v).as("va"))
          val b = df.filter(pmod(col("vec_id"), lit(2)) === 1)
            .select((col("vec_id") - 1).as("pid"), col(axis),
              col(v).as("vb"))
          a.join(b, Seq("pid", axis))
            .agg(countDistinct(col("pid")).as("n_pairs"),
              sum((col("va") - col("vb")) * (col("va") - col("vb")))
                .as("d2"))
        }
        broadcast(pairs(proj, "j", "y")
          .select(col("n_pairs"), col("d2").as("d2_proj")))
          .crossJoin(broadcast(pairs(dims, "d", "q")
            .select(col("d2").as("d2_orig"))))
          .select(col("n_pairs"), col("d2_orig"), col("d2_proj"),
            r6(col("d2_proj").cast("double") /
              (col("d2_orig").cast("double") * lit(K.toDouble)))
              .as("distortion"))
      },
      Some {
        val h = "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || " +
          "CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)"
        s"""
        WITH dims AS (
          SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
                 CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE)
                   * 1e6) AS BIGINT) AS q
          FROM embeddings, unnest(range(1, ${Dim + 1})) AS u(i)),
        signs AS (
          SELECT j, d, CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(range($K)) AS j)
          CROSS JOIN (SELECT unnest(range($Dim)) AS d)),
        proj AS (
          SELECT vec_id, j, CAST(sum(sgn * q) AS BIGINT) AS y
          FROM dims JOIN signs USING (d) GROUP BY 1, 2),
        pp AS (
          SELECT CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n_pairs,
                 CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
          FROM (SELECT * FROM proj WHERE vec_id % 2 = 0) a
          JOIN (SELECT vec_id - 1 AS pid, j, y FROM proj
                WHERE vec_id % 2 = 1) b
            ON b.pid = a.vec_id AND b.j = a.j),
        op AS (
          SELECT CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2_orig
          FROM (SELECT * FROM dims WHERE vec_id % 2 = 0) a
          JOIN (SELECT vec_id - 1 AS pid, d, q FROM dims
                WHERE vec_id % 2 = 1) b
            ON b.pid = a.vec_id AND b.d = a.d)
        SELECT n_pairs, d2_orig, d2_proj,
               ${sqlR6(s"CAST(d2_proj AS DOUBLE) / " +
          s"(CAST(d2_orig AS DOUBLE) * ${K.toDouble}e0)")} AS distortion
        FROM pp CROSS JOIN op"""
      }
    )
  }

  /** Per-label embedding-centroid separation report — the data-mixing /
    * drift audit a curation pipeline runs per source or cluster: mean
    * embedding per label, then pairwise cosine between the 10 centroids
    * (45 rows). Components are quantized to exact integers
    * (floor(e·1e3), the q_s_jl_distortion idiom) so the per-label sums
    * are exact and order-independent; the mean is ONE double division;
    * dot and norms are decimal sums of bit-identical per-dim double
    * products; cos is the same op chain in both engines. Scale shape:
    * one groupBy on (label, dim) — label cardinality is bounded, so the
    * centroid table is tiny and the pair join is a broadcast, never
    * all-pairs over rows.
    */
  val sCentroidCos = {
    val Dim = 64
    QueryDef(
      "q_s_centroid_cos",
      (s, dir) => {
        val dims = t(s, dir, "embeddings")
          .select(col("label"),
            posexplode(col("embedding")).as(Seq("d", "e")))
          .select(col("label"), col("d").cast("long").as("d"),
            floor(col("e").cast("double") * 1e3).cast("long").as("q"))
        val cent = dims.groupBy("label", "d")
          .agg((sum(col("q")).cast("double") /
            count(lit(1)).cast("double")).as("m"))
        val a = cent.select(col("label").as("label_a"), col("d"),
          col("m").as("ma"))
        val b = cent.select(col("label").as("label_b"), col("d"),
          col("m").as("mb"))
        a.join(broadcast(b),
            a("d") === b("d") && col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(sumE(col("ma") * col("mb")).as("dot"),
            sumE(col("ma") * col("ma")).as("na"),
            sumE(col("mb") * col("mb")).as("nb"))
          .select(col("label_a"), col("label_b"),
            r6(col("dot") / (sqrt(col("na")) * sqrt(col("nb")))).as("cos"))
          .orderBy("label_a", "label_b")
      },
      Some(s"""
        WITH dims AS (
          SELECT label, CAST(i - 1 AS BIGINT) AS d,
                 CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE)
                   * 1e3) AS BIGINT) AS q
          FROM embeddings, unnest(range(1, ${Dim + 1})) AS u(i)),
        cent AS (
          SELECT label, d,
                 CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
          FROM dims GROUP BY 1, 2),
        p AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 ${sqlSumE("a.m * b.m")} AS dot,
                 ${sqlSumE("a.m * a.m")} AS na,
                 ${sqlSumE("b.m * b.m")} AS nb
          FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
          GROUP BY 1, 2)
        SELECT label_a, label_b,
               ${sqlR6("dot / (sqrt(na) * sqrt(nb))")} AS cos
        FROM p ORDER BY label_a, label_b""")
    )
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity-aware selection step after retrieval: from the top-10
    * cosine candidates for query doc 3, greedily pick 5 maximizing
    * 0.7·rel − 0.3·max-sim-to-already-picked. The candidate set is
    * BOUNDED (10), so every round is a join over ≤10×10 rows — the greedy
    * loop never touches data scale; the only big work is the one brute
    * scan producing candidates. Both rel and pairwise sims are r6-ROUNDED
    * cosines (the q_t_bm25 rounded-ranking-key rule) and the score
    * arithmetic is the same op chain, so each round's argmax (ties →
    * doc_id) is bit-deterministic; the oracle replays all 5 rounds as
    * chained CTEs.
    */
  val sMmr = {
    val QDoc = 3L
    val C = 10
    val K = 5
    QueryDef(
      "q_s_mmr",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val cand = Ann.bruteForceTopK(e, e.filter(col("vec_id") === QDoc),
            "vec_id", "embedding", "vec_id", k = C + 1)
          .filter(col("nn_id") =!= QDoc)
          .withColumn("rk",
            row_number().over(Window.orderBy(desc("cos"), col("nn_id"))))
          .filter(col("rk") <= C)
          .select(col("nn_id").as("doc_id"), r6(col("cos")).as("rel"))
          .localCheckpoint(true)
        val cp = e.join(broadcast(cand.select(col("doc_id").as("vec_id"))),
          Seq("vec_id"))
        val sims = Ann.bruteForceTopK(cp, cp, "vec_id", "embedding",
            "vec_id", k = C)
          .filter(col("nn_id") =!= col("query_id"))
          .select(col("query_id").as("a"), col("nn_id").as("b"),
            r6(col("cos")).as("sim"))
          .localCheckpoint(true)
        var sel = cand.orderBy(desc("rel"), col("doc_id")).limit(1)
          .select(col("doc_id"), lit(1L).as("pick"))
          .localCheckpoint(true)
        for (k <- 2 to K) {
          val pen = sims
            .join(sel.select(col("doc_id").as("b")), Seq("b"))
            .groupBy(col("a").as("doc_id")).agg(max(col("sim")).as("pen"))
          val next = cand.join(sel.select("doc_id"), Seq("doc_id"),
              "left_anti")
            .join(pen, Seq("doc_id"))
            .select(col("doc_id"),
              (lit(0.7) * col("rel") - lit(0.3) * col("pen")).as("score"))
            .orderBy(desc("score"), col("doc_id")).limit(1)
            .select(col("doc_id"), lit(k.toLong).as("pick"))
          sel = sel.unionByName(next).localCheckpoint(true)
        }
        sel.join(cand, Seq("doc_id"))
          .select(col("pick"), col("doc_id"), col("rel"))
          .orderBy("pick")
      },
      Some {
        val rounds = (2 to K).map { k =>
          s"""s$k AS (
          SELECT * FROM s${k - 1} UNION ALL
          SELECT doc_id, CAST($k AS BIGINT) AS pick FROM (
            SELECT c.doc_id,
                   ${sqlD(0.7)} * c.rel - ${sqlD(0.3)} * p.pen AS score
            FROM cand c
            JOIN (SELECT a AS doc_id, max(sim) AS pen
                  FROM sims JOIN s${k - 1} sl ON sims.b = sl.doc_id
                  GROUP BY 1) p USING (doc_id)
            WHERE c.doc_id NOT IN (SELECT doc_id FROM s${k - 1})
            ORDER BY score DESC, doc_id LIMIT 1))"""
        }.mkString(",\n        ")
        s"""
        WITH qv AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id = $QDoc),
        qnm AS (
          SELECT list_transform(v, x -> x /
                   sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
          FROM qv),
        cn AS (
          SELECT vec_id, list_transform(cv, x -> x /
                   sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
          FROM (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                FROM embeddings)),
        cand AS (
          SELECT vec_id AS doc_id, ${sqlR6("cos")} AS rel
          FROM (SELECT cn.vec_id,
                  list_sum(list_transform(list_zip(cn.cv, qnm.v),
                    p -> p[1] * p[2])) AS cos
                FROM cn CROSS JOIN qnm
                WHERE cn.vec_id <> $QDoc)
          QUALIFY row_number() OVER (ORDER BY cos DESC, vec_id) <= $C),
        sims AS (
          SELECT x.vec_id AS a, y.vec_id AS b,
                 ${sqlR6("""list_sum(list_transform(list_zip(x.cv, y.cv),
                   p -> p[1] * p[2]))""")} AS sim
          FROM cn x JOIN cand ca ON x.vec_id = ca.doc_id
          CROSS JOIN (SELECT cn2.vec_id, cn2.cv FROM cn cn2
                      JOIN cand cb ON cn2.vec_id = cb.doc_id) y
          WHERE x.vec_id <> y.vec_id),
        s1 AS (
          SELECT doc_id, CAST(1 AS BIGINT) AS pick FROM cand
          ORDER BY rel DESC, doc_id LIMIT 1),
        $rounds
        SELECT pick, doc_id, rel
        FROM s$K JOIN cand USING (doc_id) ORDER BY pick"""
      }
    )
  }

  /** Random-hyperplane LSH ANN (Charikar 2002, SimHash for vectors) +
    * RECALL AUDIT — the brief's "LSH-bucketed variant as the scale path"
    * next to IVF, with the same acceptance gate as [[sRecallIvf]]. T=4
    * hash tables × B=8 hyperplanes: each hyperplane's ±1 coefficients
    * come from the portable md5-60 parity of `t#b#d` (a 2048-row
    * broadcast, the q_s_jl_distortion idiom), each float coordinate is
    * quantized to ⌊x·10⁶⌋ so every signature bit is sign(Σ±q) — an EXACT
    * integer comparison in both engines — and each table's 8 bits pack
    * into one integer bucket. Candidates = bucket-equality join in ANY
    * table (never all-pairs; self collides by construction), re-ranked
    * by exact cosine in Ann's normalize-then-dot operand order. The
    * audit reports candidate count (the work bound LSH buys: ~|q|·T·
    * bucket-occupancy vs brute's |q|·N) and recall vs brute truth, all
    * exact integer counts with ONE r6 division. The oracle recomputes
    * BOTH sides raw in DuckDB — no aux dumps.
    */
  val sLshRecall = {
    val T = 4 // hash tables
    val B = 8 // hyperplanes (signature bits) per table
    val Dim = 64
    QueryDef(
      "q_s_lsh_recall",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.Md5Prefix60.md5Prefix60
        graft.functions.VectorFunctions.register(s)
        val e = t(s, dir, "embeddings")
        val dims = e
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("d", "x")))
          .select(col("vec_id"), col("d").cast("long").as("d"),
            floor(col("x").cast("double") * 1e6).cast("long").as("q"))
        val signs = broadcast(s.range(T).select(col("id").as("tb"))
          .crossJoin(s.range(B).select(col("id").as("b")))
          .crossJoin(s.range(Dim).select(col("id").as("d")))
          .select(col("tb"), col("b"), col("d"),
            when(pmod(md5Prefix60(Seq(col("tb"), col("b"), col("d"))),
              lit(2L)) === 0L, 1L).otherwise(-1L).as("sgn")))
        val sig = dims.join(signs, Seq("d"))
          .groupBy("vec_id", "tb", "b")
          .agg(sum(col("sgn") * col("q")).as("acc"))
          .select(col("vec_id"), col("tb"),
            (when(col("acc") >= 0, 1L).otherwise(0L) *
              expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"))
              .as("bit"))
          .groupBy("vec_id", "tb").agg(sum(col("bit")).as("bucket"))
        val qs = sig.filter(col("vec_id") < RecallQMax)
          .select(col("vec_id").as("query_id"), col("tb"), col("bucket"))
        val cand = sig.join(qs, Seq("tb", "bucket"))
          .select(col("query_id"), col("vec_id").as("nn_id"))
          .distinct()
        def normed(df: DataFrame, idOut: String, vecOut: String) = {
          val v = transform(col("embedding"), _.cast("double"))
          val n = sqrt(aggregate(transform(v, x => x * x), lit(0.0),
            _ + _))
          df.select(col("vec_id").as(idOut), transform(v, _ / n)
            .as(vecOut))
        }
        val cvn = normed(e, "nn_id", "cv")
        val qvn = broadcast(normed(e.filter(col("vec_id") < RecallQMax),
          "query_id", "qv"))
        val w = Window.partitionBy("query_id")
          .orderBy(desc("cos"), col("nn_id"))
        val pred = cand.join(cvn, Seq("nn_id")).join(qvn, Seq("query_id"))
          .withColumn("cos",
            call_function("graft_dot", col("cv"), col("qv")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= TopK)
          .filter(col("nn_id") =!= col("query_id"))
          .select("query_id", "nn_id")
        val truth = Ann.bruteForceTopK(e,
            e.filter(col("vec_id") < RecallQMax), "vec_id", "embedding",
            "vec_id", k = TopK)
          .filter(col("nn_id") =!= col("query_id"))
          .select("query_id", "nn_id")
        val nt = truth.agg(count(lit(1)).as("n_true"),
          count_distinct(col("query_id")).as("n_queries"))
        val nc = cand.filter(col("nn_id") =!= col("query_id"))
          .agg(count(lit(1)).as("n_cand"))
        val np = pred.agg(count(lit(1)).as("n_pred"))
        val tp = truth.join(pred, Seq("query_id", "nn_id"))
          .agg(count(lit(1)).as("n_tp"))
        nt.crossJoin(broadcast(nc)).crossJoin(broadcast(np))
          .crossJoin(broadcast(tp))
          .select(col("n_queries"), col("n_true"), col("n_cand"),
            col("n_pred"), col("n_tp"),
            r6(col("n_tp").cast("double") / col("n_true").cast("double"))
              .as("recall"))
      },
      Some {
        val h = "CAST(('0x' || substr(md5(CAST(tb AS VARCHAR) || '#' || " +
          "CAST(b AS VARCHAR) || '#' || CAST(d AS VARCHAR)), 1, 15)) " +
          "AS BIGINT)"
        s"""
        WITH dims AS (
          SELECT vec_id, CAST(i - 1 AS BIGINT) AS d,
                 CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE)
                   * 1e6) AS BIGINT) AS q
          FROM embeddings, unnest(range(1, ${Dim + 1})) AS u(i)),
        signs AS (
          SELECT tb, b, d, CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(range($T)) AS tb)
          CROSS JOIN (SELECT unnest(range($B)) AS b)
          CROSS JOIN (SELECT unnest(range($Dim)) AS d)),
        sig AS (
          SELECT vec_id, tb,
                 CAST(sum(CASE WHEN acc >= 0 THEN
                   CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                   ELSE 0 END) AS BIGINT) AS bucket
          FROM (SELECT vec_id, tb, b, sum(sgn * q) AS acc
                FROM dims JOIN signs USING (d) GROUP BY 1, 2, 3)
          GROUP BY 1, 2),
        qsb AS (SELECT vec_id AS query_id, tb, bucket FROM sig
                WHERE vec_id < $RecallQMax),
        cand AS (
          SELECT DISTINCT qsb.query_id, sig.vec_id AS nn_id
          FROM sig JOIN qsb USING (tb, bucket)),
        cn AS (SELECT vec_id AS nn_id,
                 list_transform(cv, x -> x /
                   sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
               FROM (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE))
                         AS cv
                     FROM embeddings)),
        qn AS (SELECT nn_id AS query_id, cv AS qv FROM cn
               WHERE nn_id < $RecallQMax),
        pscored AS (
          SELECT cand.query_id, cand.nn_id,
                 list_sum(list_transform(list_zip(cn.cv, qn.qv),
                   p -> p[1] * p[2])) AS cos
          FROM cand JOIN cn USING (nn_id) JOIN qn USING (query_id)),
        ipred AS (
          SELECT query_id, nn_id FROM (
            SELECT query_id, nn_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, nn_id) AS rank
            FROM pscored)
          WHERE rank <= $TopK AND nn_id <> query_id),
        bscored AS (
          SELECT qn.query_id, cn.nn_id,
                 list_sum(list_transform(list_zip(cn.cv, qn.qv),
                   p -> p[1] * p[2])) AS cos
          FROM cn CROSS JOIN qn),
        btruth AS (
          SELECT query_id, nn_id FROM (
            SELECT query_id, nn_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, nn_id) AS rank
            FROM bscored)
          WHERE rank <= $TopK AND nn_id <> query_id),
        cnts AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM btruth) AS n_true,
                 (SELECT CAST(count(DISTINCT query_id) AS BIGINT)
                  FROM btruth) AS n_queries,
                 (SELECT CAST(count(*) AS BIGINT) FROM cand
                  WHERE nn_id <> query_id) AS n_cand,
                 (SELECT CAST(count(*) AS BIGINT) FROM ipred) AS n_pred,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM btruth t JOIN ipred p
                    ON p.query_id = t.query_id AND p.nn_id = t.nn_id)
                   AS n_tp)
        SELECT n_queries, n_true, n_cand, n_pred, n_tp,
               ${sqlR6("CAST(n_tp AS DOUBLE) / CAST(n_true AS DOUBLE)")}
                 AS recall
        FROM cnts"""
      }
    )
  }

  /** Mutual nearest neighbors between two embedding groups — the
    * bitext-/pair-mining primitive (Artetxe & Schwenk 2019 strip the
    * margin term; the MNN core is this): x∈A and y∈B match iff y is
    * x's top-1 in B AND x is y's top-1 in A. Both directions rank with
    * the exact normalize-then-dot cosine under the (cos desc, id) total
    * order (the q_s_recall_ivf contract), the mutual set is an integer
    * join of the two top-1 tables, and cos is r6'd only for display.
    * Scale: each direction is a |A|×|B| block — at 100 TB you shard A
    * and broadcast B's (much smaller) candidate set per block, the
    * same shape Ann.bruteForceTopK already has.
    */
  val sMutualNn = QueryDef(
    "q_s_mutual_nn",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.filter(col("label") === 0)
      val b = e.filter(col("label") === 1)
      val ab = Ann.bruteForceTopK(b, a, "vec_id", "embedding", "vec_id",
          k = 1)
        .select(col("query_id").as("a_id"), col("nn_id").as("b_id"),
          col("cos"))
      val ba = Ann.bruteForceTopK(a, b, "vec_id", "embedding", "vec_id",
          k = 1)
        .select(col("nn_id").as("a_id"), col("query_id").as("b_id"))
      ab.join(ba, Seq("a_id", "b_id"))
        .select(col("a_id"), col("b_id"), r6(col("cos")).as("cos"))
        .orderBy("a_id")
    },
    Some(s"""
      WITH cn AS (
        SELECT vec_id, label,
               list_transform(cv, x -> x /
                 sqrt(list_sum(list_transform(cv, y -> y * y)))) AS v
        FROM (SELECT vec_id, label,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
              FROM embeddings WHERE label IN (0, 1))),
      sc AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_sum(list_transform(list_zip(b.v, a.v),
                 p -> p[1] * p[2])) AS cos
        FROM (SELECT * FROM cn WHERE label = 0) a
        CROSS JOIN (SELECT * FROM cn WHERE label = 1) b),
      ab AS (
        SELECT a_id, b_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY a_id
            ORDER BY cos DESC, b_id) AS rk FROM sc)
        WHERE rk = 1),
      ba AS (
        SELECT a_id, b_id FROM (
          SELECT *, row_number() OVER (PARTITION BY b_id
            ORDER BY cos DESC, a_id) AS rk FROM sc)
        WHERE rk = 1)
      SELECT ab.a_id, ab.b_id, ${sqlR6("ab.cos")} AS cos
      FROM ab JOIN ba ON ba.a_id = ab.a_id AND ba.b_id = ab.b_id
      ORDER BY ab.a_id""")
  )

  // nDCG@10 position discounts as 1e6-scaled INTEGERS — floor(1e6 /
  // log2(rank+1) + 0.5), precomputed once and shared verbatim by the
  // Spark query and the DuckDB oracle, so no engine evaluates a
  // transcendental at query time (libm log2 is not guaranteed
  // bit-identical across runtimes; a fixed integer table is).
  private val NdcgDisc: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  private def ndcgDiscCase(rankCol: String): String =
    s"CASE $rankCol " + NdcgDisc.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
      .mkString(" ") + " END"

  /** Retrieval-quality eval: nDCG@10 over the brute-force cosine ranking
    * (graded relevance from embedding labels: same label → gain 7 = 2³−1,
    * adjacent label → gain 1, else 0). The position discount is a fixed
    * 1e6-scaled integer table (see NdcgDisc), so DCG and ideal-DCG are
    * EXACT INTEGER sums — cross-engine bit-exactness needs no rounding;
    * the one final ratio divides two exact integers. IDCG re-ranks the
    * retrieved list by gain (the standard "ideal permutation of the
    * retrieved set" normalization). Ranking determinism = the proven
    * normalize-then-dot order of q_s_cosine_topk; windows partition by
    * query_id (bounded: 10 queries × 11 rows).
    */
  val sNdcg = QueryDef(
    "q_s_ndcg",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val labels = e.select(col("vec_id"), col("label"))
      val retrieved = Ann.bruteForceTopK(e,
          e.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", "vec_id", k = 11)
        .filter(col("nn_id") =!= col("query_id"))
      val w = Window.partitionBy("query_id")
        .orderBy(desc("cos"), col("nn_id"))
      val top10 = retrieved.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
      val graded = top10
        .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "ql")), Seq("query_id"))
        .join(broadcast(labels.withColumnRenamed("vec_id", "nn_id")
          .withColumnRenamed("label", "nl")), Seq("nn_id"))
        .withColumn("gain",
          when(col("ql") === col("nl"), 7L)
            .when(abs(col("ql") - col("nl")) === 1, 1L)
            .otherwise(0L))
      val iw = Window.partitionBy("query_id")
        .orderBy(desc("gain"), col("nn_id"))
      val disc = typedlit(NdcgDisc)
      graded.withColumn("irk", row_number().over(iw))
        .withColumn("c", col("gain") * element_at(disc, col("rk")))
        .withColumn("ic", col("gain") * element_at(disc, col("irk")))
        .groupBy("query_id")
        .agg(sum(when(col("gain") > 0, 1L).otherwise(0L)).as("n_rel"),
          sum(col("c")).as("dcg2"), sum(col("ic")).as("idcg2"))
        .select(col("query_id"), col("n_rel"),
          (col("dcg2").cast("double") / lit(1e6)).as("dcg"),
          when(col("idcg2") > 0,
            col("dcg2").cast("double") / col("idcg2").cast("double"))
            .otherwise(lit(null).cast("double")).as("ndcg"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                 FROM embeddings WHERE vec_id % 50 = 0),
      qn AS (SELECT query_id,
               list_transform(qv, x -> x /
                 sqrt(list_sum(list_transform(qv, y -> y * y)))) AS qv
             FROM q),
      cn AS (SELECT nn_id,
               list_transform(cv, x -> x /
                 sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
             FROM (SELECT vec_id AS nn_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings)),
      scored AS (
        SELECT qn.query_id, cn.nn_id,
               list_sum(list_transform(list_zip(cn.cv, qn.qv),
                 p -> p[1] * p[2])) AS cos
        FROM cn CROSS JOIN qn),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank0
        FROM scored),
      top AS (
        SELECT query_id, nn_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rk
        FROM ranked WHERE rank0 <= 11 AND nn_id <> query_id),
      graded AS (
        SELECT t.query_id, t.nn_id, t.rk,
               CASE WHEN lq.label = ln.label THEN 7
                    WHEN abs(lq.label - ln.label) = 1 THEN 1
                    ELSE 0 END AS gain
        FROM top t
        JOIN embeddings lq ON lq.vec_id = t.query_id
        JOIN embeddings ln ON ln.vec_id = t.nn_id
        WHERE t.rk <= 10),
      ideal AS (
        SELECT query_id, rk, gain,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY gain DESC, nn_id) AS irk
        FROM graded),
      a AS (
        SELECT query_id,
               CAST(sum(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rel,
               CAST(sum(gain * ${ndcgDiscCase("rk")}) AS BIGINT) AS dcg2,
               CAST(sum(gain * ${ndcgDiscCase("irk")}) AS BIGINT) AS idcg2
        FROM ideal GROUP BY 1)
      SELECT query_id, n_rel,
             CAST(dcg2 AS DOUBLE) / 1e6 AS dcg,
             CASE WHEN idcg2 > 0
               THEN CAST(dcg2 AS DOUBLE) / CAST(idcg2 AS DOUBLE)
             END AS ndcg
      FROM a ORDER BY query_id""")
  )

  /** kNN classification eval — leave-one-out majority vote over the
    * brute cosine ranking (k=5): the standard probe for "do these
    * embeddings separate the labels?", and the companion to q_s_ndcg
    * (graded ranking quality) and q_s_recall_ivf (index quality). Votes
    * are exact integer counts; the majority is a deterministic top-1
    * (count desc, label asc); per-label accuracy published. The eval set
    * is charter-FIXED at vec_id < KnnEvalMax queries against the full
    * corpus (r13) — brute exact scoring is the ORACLE-TRUTH companion;
    * q_s_knn_ivf below routes the same vote through the IVF index, the
    * path production inference takes.
    */
  val sKnn = QueryDef(
    "q_s_knn",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val labels = e.select(col("vec_id"), col("label"))
      val top5 = Ann.bruteForceTopK(e,
          e.filter(col("vec_id") < KnnEvalMax), "vec_id", "embedding",
          "vec_id", k = 6)
        .filter(col("nn_id") =!= col("query_id"))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("cos"), col("nn_id"))))
        .filter(col("rk") <= 5)
      val votes = top5
        .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "ql")), Seq("query_id"))
        .join(broadcast(labels.withColumnRenamed("vec_id", "nn_id")
          .withColumnRenamed("label", "nl")), Seq("nn_id"))
        .groupBy("query_id", "ql", "nl")
        .agg(count(lit(1)).as("c"))
      val pred = votes
        .withColumn("vr", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("c"), col("nl"))))
        .filter(col("vr") === 1)
      pred.groupBy(col("ql").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nl") === col("ql"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("label"), col("n"), col("n_correct"),
          r6(col("n_correct").cast("double") / col("n").cast("double"))
            .as("accuracy"))
        .orderBy("label")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                 FROM embeddings WHERE vec_id < $KnnEvalMax),
      qn AS (SELECT query_id,
               list_transform(qv, x -> x /
                 sqrt(list_sum(list_transform(qv, y -> y * y)))) AS qv
             FROM q),
      cn AS (SELECT nn_id,
               list_transform(cv, x -> x /
                 sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cv
             FROM (SELECT vec_id AS nn_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings)),
      scored AS (
        SELECT qn.query_id, cn.nn_id,
               list_sum(list_transform(list_zip(cn.cv, qn.qv),
                 p -> p[1] * p[2])) AS cos
        FROM cn CROSS JOIN qn),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank0
        FROM scored),
      top5 AS (
        SELECT query_id, nn_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rk
        FROM ranked WHERE rank0 <= 6 AND nn_id <> query_id),
      votes AS (
        SELECT t.query_id, lq.label AS ql, ln.label AS nl,
               count(*) AS c
        FROM top5 t
        JOIN embeddings lq ON lq.vec_id = t.query_id
        JOIN embeddings ln ON ln.vec_id = t.nn_id
        WHERE t.rk <= 5
        GROUP BY 1, 2, 3),
      pred AS (
        SELECT query_id, ql, nl,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY c DESC, nl) AS vr
        FROM votes)
      SELECT ql AS label, count(*) AS n,
             CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
             ${sqlR6("""CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE)""")} AS accuracy
      FROM pred WHERE vr = 1 GROUP BY 1 ORDER BY 1""")
  )

  /** IVF-routed kNN classification eval (r13 verdict order #3): the SAME
    * leave-one-out k=5 majority vote as q_s_knn, but the candidate
    * neighbors come from `Ann.ivfTopK` — probe the query's `IvfProbe`
    * best coarse cells, exact cosine re-rank inside them — instead of the
    * brute all-pairs scan. q_s_knn (brute, reduced eval set) stays the
    * oracle-truth companion; KnnIvfParitySpec runs the recall-audit
    * machinery over both and gates candidate recall + vote agreement.
    *
    * Scale: per-query work is IvfProbe/IvfCells of the corpus instead of
    * all of it, and the eval set is the same charter-fixed KnnEvalMax —
    * this is the production inference path. The oracle replays probe
    * selection + re-rank from the ivf_cells/ivf_centroids aux dumps
    * (exactly the q_s_ivf_topk replay) and then the q_s_knn vote.
    */
  val sKnnIvf = QueryDef(
    "q_s_knn_ivf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val labels = e.select(col("vec_id"), col("label"))
      val top5 = Ann.ivfTopK(e, e.filter(col("vec_id") < KnnEvalMax),
          "vec_id", "embedding", "vec_id", k = 6, nCells = IvfCells,
          nProbe = IvfProbe)
        .filter(col("nn_id") =!= col("query_id"))
        .withColumn("rk", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("cos"), col("nn_id"))))
        .filter(col("rk") <= 5)
      val votes = top5
        .join(broadcast(labels.withColumnRenamed("vec_id", "query_id")
          .withColumnRenamed("label", "ql")), Seq("query_id"))
        .join(broadcast(labels.withColumnRenamed("vec_id", "nn_id")
          .withColumnRenamed("label", "nl")), Seq("nn_id"))
        .groupBy("query_id", "ql", "nl")
        .agg(count(lit(1)).as("c"))
      val pred = votes
        .withColumn("vr", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("c"), col("nl"))))
        .filter(col("vr") === 1)
      pred.groupBy(col("ql").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("nl") === col("ql"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("label"), col("n"), col("n_correct"),
          r6(col("n_correct").cast("double") / col("n").cast("double"))
            .as("accuracy"))
        .orderBy("label")
    },
    Some(s"""
      WITH cells AS (SELECT id, cell FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_cells/*.parquet')),
      cents AS (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/ivf_centroids/*.parquet')),
      q AS (SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id < $KnnEvalMax),
      probes AS (
        SELECT query_id, qv, cell,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY s DESC, cell) AS probe_rank
        FROM (SELECT q.query_id, q.qv, cents.cell,
                     list_sum(list_transform(list_zip(q.qv, cents.c),
                       p -> p[1] * p[2])) AS s
              FROM q CROSS JOIN cents)),
      pq AS (SELECT query_id, qv, cell FROM probes
             WHERE probe_rank <= $IvfProbe),
      corpus AS (
        SELECT e.vec_id AS nn_id,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS cv,
               cells.cell
        FROM embeddings e JOIN cells ON cells.id = e.vec_id),
      scored AS (
        SELECT pq.query_id, corpus.nn_id,
               list_sum(list_transform(list_zip(corpus.cv, pq.qv),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(corpus.cv, x -> x * x)))
                  * sqrt(list_sum(list_transform(pq.qv, x -> x * x)))) AS cos
        FROM corpus JOIN pq ON corpus.cell = pq.cell),
      ranked AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank0
        FROM scored),
      top5 AS (
        SELECT query_id, nn_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rk
        FROM ranked WHERE rank0 <= 6 AND nn_id <> query_id),
      votes AS (
        SELECT t.query_id, lq.label AS ql, ln.label AS nl,
               count(*) AS c
        FROM top5 t
        JOIN embeddings lq ON lq.vec_id = t.query_id
        JOIN embeddings ln ON ln.vec_id = t.nn_id
        WHERE t.rk <= 5
        GROUP BY 1, 2, 3),
      pred AS (
        SELECT query_id, ql, nl,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY c DESC, nl) AS vr
        FROM votes)
      SELECT ql AS label, count(*) AS n,
             CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
             ${sqlR6("""CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE)""")} AS accuracy
      FROM pred WHERE vr = 1 GROUP BY 1 ORDER BY 1""")
  )

  /** Greedy k-center (farthest-point) diversity sampling — the coreset
    * seeding used to pick maximally-spread training examples (Gonzalez
    * 1985, 2-approximation). Five rounds from seed vec 0: each round
    * scans once for every point's min cosine distance to the selected set
    * (a broadcast of ≤k normalized vectors — the driver holds only the k
    * chosen IDs) and picks the farthest, ties broken by id. Distances use
    * the proven normalize-then-dot operand order, so the min/argmax
    * comparisons act on bit-identical doubles; the oracle replays the five
    * rounds as chained CTEs with incremental `least`.
    */
  val sKcenter = QueryDef(
    "q_s_kcenter",
    (s, dir) => {
      val sp = s
      import sp.implicits._
      graft.functions.VectorFunctions.register(s)
      val v = transform(col("embedding"), _.cast("double"))
      val nrm = sqrt(aggregate(transform(v, x => x * x), lit(0.0), _ + _))
      val en = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(v, _ / nrm).as("nv"))
        .localCheckpoint(false)
      var selected = Vector(0L)
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      for (i <- 1 to 5) {
        val selVecs = en.where(col("vec_id").isin(selected: _*))
          .select(col("nv").as("sv"))
        val best = en.where(!col("vec_id").isin(selected: _*))
          .crossJoin(broadcast(selVecs))
          .select(col("vec_id"),
            (lit(1.0) - call_function("graft_dot", col("nv"), col("sv")))
              .as("d"))
          .groupBy("vec_id").agg(min(col("d")).as("d"))
          .orderBy(desc("d"), col("vec_id"))
          .limit(1).collect()(0)
        picks += ((i.toLong, best.getAs[Long]("vec_id"),
          best.getAs[Double]("d")))
        selected :+= best.getAs[Long]("vec_id")
      }
      picks.toSeq.toDF("sel_order", "vec_id", "dist")
        .select(col("sel_order"), col("vec_id"), r6(col("dist")).as("dist"))
        .orderBy("sel_order")
    },
    Some {
      def dd(i: Int, prevPicks: String) =
        s"""dd$i AS (
        SELECT a.vec_id,
               1e0 - list_sum(list_transform(list_zip(a.nv, s.nv),
                 p -> p[1] * p[2])) AS d
        FROM en a JOIN en s ON s.vec_id = (SELECT vec_id FROM p${i - 1})
        WHERE a.vec_id <> 0),
      m$i AS (
        SELECT m.vec_id, least(m.d, dd$i.d) AS d
        FROM m${i - 1} m JOIN dd$i ON dd$i.vec_id = m.vec_id
        WHERE m.vec_id NOT IN ($prevPicks)),
      p$i AS (SELECT vec_id, d FROM m$i ORDER BY d DESC, vec_id LIMIT 1)"""
      val picksUpTo = (1 to 5).map(i =>
        (1 until i).map(j => s"SELECT vec_id FROM p$j").mkString(" UNION "))
      s"""
      WITH raw AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
          AS cv
        FROM embeddings),
      en AS (
        SELECT vec_id, list_transform(cv, x -> x
          / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS nv
        FROM raw),
      m1 AS (
        SELECT a.vec_id,
               1e0 - list_sum(list_transform(list_zip(a.nv, s.nv),
                 p -> p[1] * p[2])) AS d
        FROM en a JOIN en s ON s.vec_id = 0
        WHERE a.vec_id <> 0),
      p1 AS (SELECT vec_id, d FROM m1 ORDER BY d DESC, vec_id LIMIT 1),
      ${(2 to 5).map(i => dd(i, picksUpTo(i - 1))).mkString(",\n      ")}
      SELECT sel_order, vec_id, ${sqlR6("d")} AS dist FROM (
        ${(1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS sel_order, vec_id, d FROM p$i")
        .mkString("\n        UNION ALL ")})
      ORDER BY sel_order"""
    }
  )

  // ---- IVF-PQ: the composed billion-scale index (the IVFADC structure
  // of Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011 — the FAISS IndexIVFPQ shape) ----

  private val IpProbe = 3
  // refine factor for the persisted IVF-PQ gate: exact re-rank sees 3× the
  // published k (self-matches consume ADC candidate slots, exactly like
  // the in-query gate's ranking)
  private val IpRefine = 3 * TopK

  /** Shared by the gate and its two aux dumps: RAW coarse centroids
    * (residuals subtract these — the normalized variants are only for
    * probe scoring), per-vector cell + residual, and the PQ codebooks
    * trained on the RESIDUALS (the defining IVF-PQ property: quantization
    * error is measured around each cell's centroid, not the origin).
    */
  private def ivfPqParts(s: SparkSession, dir: String) =
    ivfPqPartsOf(s, t(s, dir, "embeddings"))

  /** Same training pipeline over an explicit corpus frame — the append
    * gate's aux dumps train on the 90% base split only.
    */
  private def ivfPqPartsOf(s: SparkSession,
      e: org.apache.spark.sql.DataFrame) = {
    val sp = s
    import sp.implicits._
    val cents = hashCentroids(e, "vec_id", "embedding", IvfCells)
    val centDf = cents.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cell", "c")
    val res = assignCells(e, "vec_id", "embedding", cents)
      .join(broadcast(centDf), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("v"), col("c"), (x, y) => x - y).as("r"))
    val cb = graft.similarity.Pq.trainCodebooks(res, "id", "r",
      PqDim, PqM, PqK)
    (e, cents, centDf, res, cb)
  }

  /** End-to-end IVF-PQ search — the composed index lifecycle in one gate
    * (q_s_recall_ivf gates the coarse index, q_s_pq_topk the codes; this
    * gates their COMPOSITION, the structure production ANN actually
    * ships): coarse cells → per-cell RESIDUALS → PQ codebooks trained on
    * residuals → 8-byte codes as the inverted list → query probes its
    * `IpProbe` best cells, builds one m×k ADC table per probed cell from
    * its OWN residual against that cell, and scores only that cell's
    * codes by table lookup. The oracle replays the entire lifecycle from
    * the two aux dumps + raw embeddings: normalization, assignment
    * (argmax with the max-struct tie-break), residual subtraction,
    * encoding argmins, probe ranking, per-cell ADC tables, and the
    * ordered lookup fold — every float op the same sequential IEEE chain
    * in both engines, so ranks and r6(adc) are bit-exact.
    *
    * Scale: the scan touches only 8-byte codes (never raw vectors); the
    * per-query work is nProbe cells' lists; codebooks/centroids are
    * driver-bounded literals (m×k = 128 rows). The one data-scale shuffle
    * is the cell assignment groupBy.
    */
  val sIvfPq = QueryDef(
    "q_pipeline_ivfpq_e2e",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sp = s
      import sp.implicits._
      val (e, cents, centDf, res, cb) = ivfPqParts(s, dir)
      val inv = graft.similarity.Pq
        .encode(res, "id", "r", PqDim, cb, PqM, keep = Seq("cell"))
        .withColumnRenamed("id", "nn_id")
        .localCheckpoint(true)
      val cn = normalizeCentroids(cents)
        .map { case (cid, c) => (cid, c.toSeq) }.toDF("cell", "cn")
      val qv = e.filter(col("vec_id") < QueryIdMax)
        .select(col("vec_id").as("query_id"),
          transform(col("embedding"), _.cast("double")).as("qv"))
      val probes = qv.join(broadcast(cn))
        .select(col("query_id"), col("qv"), col("cell"),
          aggregate(zip_with(col("qv"), col("cn"), (x, y) => x * y),
            lit(0.0), _ + _).as("s"))
        .withColumn("pr", row_number().over(
          Window.partitionBy("query_id").orderBy(desc("s"), col("cell"))))
        .filter(col("pr") <= IpProbe)
      val lit_ = graft.similarity.Pq.codebookLit(cb, PqM)
      val qtab = probes.join(broadcast(centDf), "cell")
        .select(col("query_id"), col("cell"),
          zip_with(col("qv"), col("c"), (x, y) => x - y).as("qr"))
        .select(col("query_id"), col("cell"),
          array((0 until PqM).map { mi =>
            transform(element_at(lit_, mi + 1),
              cc => graft.similarity.Pq.sqDist(
                slice(col("qr"), mi * PqSub + 1, PqSub), cc))
          }: _*).as("dtab"))
      inv.join(broadcast(qtab), "cell")
        .withColumn("adc", aggregate(
          zip_with(col("codes"), col("dtab"),
            (code, ds) => element_at(ds, code + 1)),
          lit(0.0), _ + _))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc"), col("nn_id"))))
        .filter(col("rank") <= TopK)
        .transform(nnRows(_, r6(col("adc")).as("adc")))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $ivfPqReplayCtes
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             ${sqlR6("adc")} AS adc
      FROM ranked WHERE rank <= $TopK AND nn_id <> query_id
      ORDER BY query_id, rank""")
  )

  /** The full IVF-PQ lifecycle replay, shared by q_pipeline_ivfpq_e2e and
    * q_s_ivfpq_persist: normalization, assignment, residuals, codebook
    * encoding, probe ranking, per-cell ADC tables, and the ordered lookup
    * fold, ending at `ranked` (per-query ADC ranks, self included).
    */
  private def ivfPqReplayCtes: String = ivfPqReplayCtesFrom(
    "ivfpq_centroids", "ivfpq_codebooks")

  /** The same replay parameterized by dump names: the append gate replays
    * from BASE-trained centroids/codebooks — assignment and encoding in
    * the CTEs below are per-vector functions of those frozen artifacts,
    * so replaying ALL corpus vectors against the base-trained parts is
    * exactly the frozen-quantizer append semantics. `resWhere` filters
    * the CORPUS side of the residual/codes CTEs (the delete gate's
    * tombstoned slice) while the query side stays unfiltered — a deleted
    * query vector becomes an out-of-index query, exactly like the probe.
    */
  private def ivfPqReplayCtesFrom(centsAux: String,
      cbAux: String, resWhere: String = ""): String = s"""cents AS MATERIALIZED (SELECT cell, c FROM
        read_parquet('__VERIFY_OUT__/_aux/$centsAux/*.parquet')),
      cn AS (SELECT cell, list_transform(c, x -> x /
               sqrt(list_sum(list_transform(c, y -> y * y)))) AS cnorm
             FROM cents),
      corpus AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      ascore AS MATERIALIZED (
        SELECT corpus.vec_id, cn.cell,
               list_sum(list_transform(list_zip(corpus.v, cn.cnorm),
                 p -> p[1] * p[2])) AS s
        FROM corpus CROSS JOIN cn),
      assign AS MATERIALIZED (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
            ORDER BY s DESC, cell) AS rn
          FROM ascore) WHERE rn = 1),
      res AS MATERIALIZED (
        SELECT corpus.vec_id, a.cell,
               list_transform(list_zip(corpus.v, cents.c),
                 p -> p[1] - p[2]) AS r
        FROM corpus JOIN assign a USING (vec_id)
        JOIN cents ON cents.cell = a.cell $resWhere),
      cb AS MATERIALIZED (SELECT m, k, c FROM
        read_parquet('__VERIFY_OUT__/_aux/$cbAux/*.parquet')),
      rd AS MATERIALIZED (
        SELECT res.vec_id, res.cell, cb.m, cb.k,
               list_sum(list_transform(
                 list_zip(list_slice(res.r, cb.m*$PqSub + 1,
                                     cb.m*$PqSub + $PqSub), cb.c),
                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        FROM res CROSS JOIN cb),
      codes AS MATERIALIZED (
        SELECT vec_id, cell, m, k AS code FROM (
          SELECT vec_id, cell, m, k,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d, k) AS rn
          FROM rd) WHERE rn = 1),
      probes AS (
        SELECT query_id, cell FROM (
          SELECT vec_id AS query_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY s DESC, cell) AS rn
          FROM ascore WHERE vec_id < $QueryIdMax) WHERE rn <= $IpProbe),
      qres AS (
        SELECT p.query_id, p.cell,
               list_transform(list_zip(corpus.v, cents.c),
                 q -> q[1] - q[2]) AS r
        FROM probes p JOIN corpus ON corpus.vec_id = p.query_id
        JOIN cents ON cents.cell = p.cell),
      qd AS MATERIALIZED (
        SELECT q.query_id, q.cell, cb.m, cb.k,
               list_sum(list_transform(
                 list_zip(list_slice(q.r, cb.m*$PqSub + 1,
                                     cb.m*$PqSub + $PqSub), cb.c),
                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
        FROM qres q CROSS JOIN cb),
      adc AS (
        SELECT qd.query_id, codes.vec_id AS nn_id,
               list_sum(list(qd.d ORDER BY qd.m)) AS adc
        FROM codes JOIN qd ON qd.cell = codes.cell AND qd.m = codes.m
          AND qd.k = codes.code
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, nn_id, adc,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc, nn_id) AS rank
        FROM adc)"""

  /** PERSISTED IVF-PQ lifecycle gate (r15, verdict order #3): the plain
    * persisted index (q_s_ivf_persist) stores RAW vectors in its inverted
    * lists — at 100 TB a full second copy of the corpus. This gate runs
    * the storage-bounded layout end-to-end from a COLD persisted artifact:
    * codes-only lists (8 bytes/vector) partition-pruned to the probed
    * cells, ADC over codes to a bounded top-`IpRefine` candidate set per
    * query, then exact-cosine re-rank of JUST those candidates fetched
    * from the id-keyed raw side table (IVFADC-with-refine). The oracle
    * replays the entire lifecycle in DuckDB — shared CTEs with
    * q_pipeline_ivfpq_e2e up to the ADC ranking, then the refine tail:
    * candidates = adc-rank ≤ $IpRefine (self included, exactly like the
    * Spark plan), exact cosine from raw embeddings, self dropped BEFORE
    * the final ranking. PersistedIvfPqSpec additionally asserts the
    * codes-only schema, bytes(lists) ≪ bytes(raw), partition pruning, and
    * bit-equality of each returned cosine against a direct recompute.
    */
  val sIvfPqPersist = QueryDef(
    "q_s_ivfpq_persist",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      val e = t(s, dir, "embeddings")
      Dirs.scratch("graft_ivfpq_persist") { stage =>
        IvfPqIndex.write(e, "vec_id", "embedding", IvfCells,
          PqDim, PqM, PqK, stage.toString)
        IvfPqIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IpProbe, refine = IpRefine)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH $ivfPqReplayCtes,
      $ivfPqRefineTail""")
  )

  /** The exact-re-rank oracle tail shared by the persisted IVF-PQ gates:
    * top-`IpRefine` ADC candidates → exact cosine from raw embeddings →
    * top-`TopK`. `extraSelect` appends pinned literal columns (the
    * lifecycle gates' boolean claims).
    */
  private def ivfPqRefineTail: String = ivfPqRefineTailWith("")

  private def ivfPqRefineTailWith(extraSelect: String): String = s"""cands AS (
        SELECT query_id, nn_id FROM ranked WHERE rank <= $IpRefine),
      rer AS (
        SELECT c.query_id, c.nn_id,
               list_sum(list_transform(list_zip(a.v, q.v),
                 p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.v, x -> x * x)))) AS cos
        FROM cands c JOIN corpus a ON a.vec_id = c.nn_id
             JOIN corpus q ON q.vec_id = c.query_id
        WHERE c.nn_id <> c.query_id),
      rr AS (
        SELECT query_id, nn_id, cos,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, nn_id) AS rank
        FROM rer)
      SELECT query_id, CAST(rank AS BIGINT) AS rank, nn_id,
             ${sqlR6("cos")} AS cos$extraSelect
      FROM rr WHERE rank <= $TopK
      ORDER BY query_id, rank"""

  /** IVF-PQ INDEX-APPEND lifecycle gate — the PQ twin of q_s_ivf_append,
    * completing the storage-bounded index's maintenance loop: the 10%
    * batch (vec_id % 10 == 7) is withheld, the index is built and
    * persisted on the 90% base (coarse quantizer AND residual codebooks
    * trained there), then the batch is APPENDED — assigned to its nearest
    * FROZEN stored centroid, its residual encoded with the FROZEN stored
    * codebooks, codes landing as a new generation alongside the raw
    * vectors' (one atomic manifest commit; ingest ∝ batch; both trained
    * artifacts retrain on a slow cadence, never per ingest), and the
    * probe must rank appended vectors alongside base ones exactly: the
    * oracle replays assignment/encoding/ADC/refine of ALL vectors from
    * BASE-trained centroid/codebook dumps — per-vector functions of
    * frozen state, so the replay IS the frozen-parts append semantics.
    * (Scheduled compaction is its own gate since r16, q_s_ivfpq_compact,
    * mirroring the plain-IVF family.) AppendIvfPqSpec additionally pins
    * that an appended vector is findable at rank 1 and that compaction
    * leaves probes bit-identical.
    */
  val sIvfPqAppend = QueryDef(
    "q_s_ivfpq_append",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      Dirs.scratch("graft_ivfpq_append") { stage =>
        IvfPqIndex.write(e.filter(!isDelta), "vec_id", "embedding",
          IvfCells, PqDim, PqM, PqK, stage.toString)
        IvfPqIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        IvfPqIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IpProbe, refine = IpRefine)
          .transform(nnRows(_))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH ${ivfPqReplayCtesFrom("ivfpq_base_centroids",
        "ivfpq_base_codebooks")},
      $ivfPqRefineTail""")
  )

  /** IVF-PQ COMPACTION gate (r16, verdict order #2) — the scheduled
    * maintenance step for the storage-bounded family: after the
    * frozen-parts append fragments both datasets (a new generation each
    * for the coded lists AND the raw side table), IvfPqIndex.compact
    * rewrites exactly the fragmented cells/buckets back to one file each
    * and commits BOTH new manifests under one marker. Physical layout
    * only: the probe answers from the compacted index and must be
    * bit-identical to the uncompacted append — the gate shares
    * q_s_ivfpq_append's oracle replay, with `compacted_both` pinning
    * that the maintenance really touched both datasets (a silent
    * one-sided compaction flips the hash).
    */
  val sIvfPqCompact = QueryDef(
    "q_s_ivfpq_compact",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      import graft.sources.ManifestedPartitions
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      Dirs.scratch("graft_ivfpq_compact") { stage =>
        IvfPqIndex.write(e.filter(!isDelta), "vec_id", "embedding",
          IvfCells, PqDim, PqM, PqK, stage.toString)
        IvfPqIndex.append(s, stage.toString, e.filter(isDelta),
          "vec_id", "embedding")
        val fragLists = ManifestedPartitions.fragmentedParts(
          s, stage.toString, "lists", "cell").nonEmpty
        val fragRaw = ManifestedPartitions.fragmentedParts(
          s, stage.toString, "raw", "rb").nonEmpty
        val compacted = IvfPqIndex.compact(s, stage.toString)
        require(compacted > 0, "append left no fragmented partitions")
        IvfPqIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IpProbe, refine = IpRefine)
          .transform(nnRows(_))
          .withColumn("compacted_both", lit(fragLists && fragRaw))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH ${ivfPqReplayCtesFrom("ivfpq_base_centroids",
        "ivfpq_base_codebooks")},
      ${ivfPqRefineTailWith(", TRUE AS compacted_both")}""")
  )

  /** IVF-PQ DELETE gate (r16, verdict order #2) — the GDPR leg that
    * completes the storage-bounded family's lifecycle, with the wrinkle
    * that made it worth its own gate: the tombstones must be purged from
    * BOTH the coded lists AND the raw exact-vector side table, and the
    * raw table's hash-bucket layout (new in r16) bounds that rewrite to
    * the tombstoned ids' buckets. The same ninth of the corpus as
    * q_s_ivf_delete (vec_id % 9 == 4) is tombstoned out of the
    * full-corpus index in ONE atomic commit across both datasets; the
    * probe then answers from the vacuumed artifact (query vector 4 is
    * itself deleted — the out-of-index query shape). The oracle replays
    * the full IVF-PQ lifecycle with the tombstoned slice filtered off
    * the corpus side of the residual/codes CTEs, so a deleted vector
    * still ranked — or a live one wrongly vacuumed — flips the hash;
    * `purged` pins physical absence from both datasets' live snapshots.
    * IvfPqDeleteSpec additionally pins untouched-partition file identity
    * and byte removal at GC.
    */
  val sIvfPqDelete = QueryDef(
    "q_s_ivfpq_delete",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      import graft.sources.ManifestedPartitions
      val e = t(s, dir, "embeddings")
      Dirs.scratch("graft_ivfpq_delete") { stage =>
        IvfPqIndex.write(e, "vec_id", "embedding", IvfCells,
          PqDim, PqM, PqK, stage.toString)
        val ts = e.filter(pmod(col("vec_id"), lit(9)) === 4)
          .select(col("vec_id").as("id")).localCheckpoint(true)
        val purged = IvfPqIndex.delete(s, stage.toString, ts)
        require(purged > 0, "tombstone batch purged nothing")
        // physical absence from BOTH live snapshots (codes and raw)
        val deadLive = ManifestedPartitions.readLatest(
            s, stage.toString, "lists", "cell")
          .select("id").join(broadcast(ts), Seq("id")).count() +
          ManifestedPartitions.readLatest(s, stage.toString, "raw", "rb")
            .select("id").join(broadcast(ts), Seq("id")).count()
        IvfPqIndex.probe(s, stage.toString,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IpProbe, refine = IpRefine)
          .transform(nnRows(_))
          .withColumn("purged", lit(deadLive == 0L))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH ${ivfPqReplayCtesFrom("ivfpq_centroids", "ivfpq_codebooks",
        "WHERE corpus.vec_id % 9 <> 4")},
      ${ivfPqRefineTailWith(", TRUE AS purged")}""")
  )

  /** SNAPSHOT-ISOLATED (version-pinned) IVF-PQ probe gate (r17, verdict
    * order #2): the PQ family was the one persisted index whose probe
    * could not pin a snapshot — worse, it resolved "latest" TWICE
    * (once for the coded lists, once for the raw re-rank side table), so
    * a delete committing between the two resolutions produced a TORN
    * cross-dataset read: ADC candidates from version v whose exact
    * vectors were already purged at v+1 silently dropped from the
    * re-rank (ADVICE r16). Now the probe resolves ONE version serving
    * both datasets. The gate mirrors q_s_ivf_snapshot_probe with the
    * extra bite that the concurrent maintenance is a DELETE touching
    * BOTH datasets: a long-running probe opens version 1 (the
    * full-corpus index) and keeps serving it bit-exactly while the
    * GDPR delete commits version 2; a fresh probe sees the vacuumed
    * index. The oracle replays BOTH snapshots independently — version 1
    * is q_s_ivfpq_persist's full replay, version 2 is q_s_ivfpq_delete's
    * tombstone-filtered replay — and `isolated` pins the before/after
    * collect equality of the pinned probe.
    */
  val sIvfPqSnapshotProbe = QueryDef(
    "q_s_ivfpq_snapshot_probe",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < QueryIdMax).localCheckpoint(true)
      Dirs.scratch("graft_ivfpq_snapshot") { stage =>
        IvfPqIndex.write(e, "vec_id", "embedding", IvfCells,
          PqDim, PqM, PqK, stage.toString) // v1
        def shape(df: DataFrame) =
          nnRows(df).orderBy("query_id", "rank")
        // the long-running probe OPENS v1 now: its pruned directory
        // lists — codes AND raw — are resolved against v1's manifest
        val pinned = shape(IvfPqIndex.probe(s, stage.toString, q,
          "vec_id", "embedding", k = TopK, nProbe = IpProbe,
          refine = IpRefine, version = Some(1L)))
        val preVals = pinned.collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        // the GDPR delete commits v2 (both datasets) while the probe is
        // "running"
        val purged = IvfPqIndex.delete(s, stage.toString,
          e.filter(pmod(col("vec_id"), lit(9)) === 4)
            .select(col("vec_id").as("id")))
        require(purged > 0, "tombstone batch purged nothing")
        // the pinned probe finishes AFTER the commit: same results —
        // including candidates whose raw vectors v2 no longer holds
        val postVals = pinned.collect().map(r => (r.getLong(0),
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        val fresh = shape(IvfPqIndex.probe(s, stage.toString, q,
          "vec_id", "embedding", k = TopK, nProbe = IpProbe,
          refine = IpRefine))
        pinned.withColumn("version", lit(1L))
          .unionByName(fresh.withColumn("version", lit(2L)))
          .withColumn("isolated", lit(preVals == postVals))
          .select(col("version"), col("query_id"), col("rank"),
            col("nn_id"), col("cos"), col("isolated"))
          .orderBy("version", "query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS version, r1.*, TRUE AS isolated
        FROM (WITH ${ivfPqReplayCtesFrom("ivfpq_centroids",
          "ivfpq_codebooks")},
          $ivfPqRefineTail) r1
        UNION ALL
        SELECT CAST(2 AS BIGINT), r2.*, TRUE
        FROM (WITH ${ivfPqReplayCtesFrom("ivfpq_centroids",
          "ivfpq_codebooks", "WHERE corpus.vec_id % 9 <> 4")},
          $ivfPqRefineTail) r2)
      ORDER BY version, query_id, rank""")
  )

  /** OPTIMISTIC-CONCURRENCY maintenance for the TWO-DATASET IVF-PQ
    * family (r18, verdict order #2): the storage-bounded index is the
    * one whose maintenance must keep a PAIR of datasets — the coded
    * lists and the raw exact-vector side table — atomic under racing
    * writers: a version where they disagree is precisely the torn
    * cross-dataset state the version-pinned probe (r17) exists to
    * prevent. The gate replays q_t_bm25_occ_maint's protocol on the
    * pair: after the frozen-parts append fragments BOTH datasets, a
    * compactor and a GDPR delete each stage NEW generations for BOTH
    * datasets against version 2 (writer-unique generation ids) and race
    * the version-3 CAS, whose ONE marker body carries BOTH manifests —
    * the compactor wins; the delete's rejected commit carried both of
    * its rewrites, so neither half can land alone. The loser re-discovers
    * affected cells AND buckets on the winner's snapshot (the compaction
    * moved rows between generations) and retries as version 4. The probe
    * answers from v4 and must equal the append+delete oracle replay
    * (compaction is logically inert); `atomic_pair` pins that at EVERY
    * committed version the lists' id set equals the raw table's id set —
    * no version exists where the two datasets disagree.
    */
  val sIvfPqOccMaint = QueryDef(
    "q_s_ivfpq_occ_maint",
    (s, dir) => {
      import graft.similarity.IvfPqIndex
      import graft.sources.ManifestedPartitions
      val e = t(s, dir, "embeddings")
      val isDelta = pmod(col("vec_id"), lit(10)) === 7
      Dirs.scratch("graft_ivfpq_occ") { stage =>
        val root = stage.toString
        IvfPqIndex.write(e.filter(!isDelta), "vec_id", "embedding",
          IvfCells, PqDim, PqM, PqK, root) // v1
        IvfPqIndex.append(s, root, e.filter(isDelta),
          "vec_id", "embedding") // v2 — fragments BOTH datasets
        def entriesAt(dn: String, v: Long) =
          ManifestedPartitions.readEntries(s, root, dn, v)
        def liveAt(dn: String, pc: String, v: Long) =
          ManifestedPartitions.read(s, root, dn, pc, entriesAt(dn, v))
        // writer 1 (compactor) and writer 2 (GDPR delete) both read v2
        val fragLists = ManifestedPartitions.fragmentedParts(
          s, root, "lists", "cell")
        val fragRaw = ManifestedPartitions.fragmentedParts(
          s, root, "raw", "rb")
        require(fragLists.nonEmpty && fragRaw.nonEmpty,
          "append left a dataset unfragmented")
        val ts = e.filter(pmod(col("vec_id"), lit(9)) === 4)
          .select(col("vec_id").as("id")).localCheckpoint(true)
        // ONE job discovers both datasets' affected partitions (r18
        // optimization: the two per-dataset distinct+collect actions each
        // paid full plan+broadcast overhead; a tagged union halves that)
        def plan(v: Long): (Seq[Int], Seq[Int]) = {
          val tagged = liveAt("lists", "cell", v)
            .select(lit("l").as("side"), col("id"), col("cell").as("part"))
            .unionByName(liveAt("raw", "rb", v)
              .select(lit("r").as("side"), col("id"), col("rb").as("part")))
            .join(broadcast(ts), Seq("id"))
            .select("side", "part").distinct().collect()
          (tagged.filter(_.getString(0) == "l").map(_.getInt(1)).toSeq.sorted,
            tagged.filter(_.getString(0) == "r").map(_.getInt(1)).toSeq.sorted)
        }
        val (affCells2, affBuckets2) = plan(2L)
        require(affCells2.nonEmpty && affBuckets2.nonEmpty,
          "tombstones hit no partition")
        val anti = (df: DataFrame) =>
          df.join(broadcast(ts), Seq("id"), "left_anti")
        // both writers stage BOTH datasets against snapshot v2,
        // writer-unique generations
        val w1Lists = ManifestedPartitions.stageRewriteAt(s, root,
          "lists", "cell", fragLists, identity, snapshotV = 2L, gen = 201L)
        val w1Raw = ManifestedPartitions.stageRewriteAt(s, root,
          "raw", "rb", fragRaw, identity, snapshotV = 2L, gen = 202L)
        val w2Lists = ManifestedPartitions.stageRewriteAt(s, root,
          "lists", "cell", affCells2, anti, snapshotV = 2L, gen = 203L)
        val w2Raw = ManifestedPartitions.stageRewriteAt(s, root,
          "raw", "rb", affBuckets2, anti, snapshotV = 2L, gen = 204L)
        // the race: ONE marker carries BOTH manifests — the compactor's
        // CAS wins version 3; the delete's pair is rejected WHOLE
        val w1Won = ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("lists" -> w1Lists, "raw" -> w1Raw))
        val w2Lost = !ManifestedPartitions.commitManifestsCas(s, root, 3L,
          Map("lists" -> w2Lists, "raw" -> w2Raw))
        // loser retries: re-discover cells AND buckets on the winner's
        // snapshot, re-stage both rewrites, commit as version 4
        val (affCells3, affBuckets3) = plan(3L)
        val w2ListsR = ManifestedPartitions.stageRewriteAt(s, root,
          "lists", "cell", affCells3, anti, snapshotV = 3L, gen = 205L)
        val w2RawR = ManifestedPartitions.stageRewriteAt(s, root,
          "raw", "rb", affBuckets3, anti, snapshotV = 3L, gen = 206L)
        val w2Won = ManifestedPartitions.commitManifestsCas(s, root, 4L,
          Map("lists" -> w2ListsR, "raw" -> w2RawR))
        require(w1Won && w2Lost && w2Won, "OCC race did not serialize")
        val compactionSurvived =
          ManifestedPartitions.fragmentedParts(s, root, "lists", "cell")
            .isEmpty &&
          ManifestedPartitions.fragmentedParts(s, root, "raw", "rb")
            .isEmpty
        // the two-dataset atomicity pin: NO committed version exists
        // where the coded lists and the raw side table disagree. ONE job
        // proves all four versions (r18 optimization: the previous
        // 8-collect loop — 2 datasets × 4 versions — paid eight full
        // plan+action overheads to compare id multisets the engine can
        // diff in a single aggregation): per (version, id), the lists'
        // and raw's multiplicities must match, so the union-tagged count
        // diff has zero violating rows iff every version's id multisets
        // are equal — the same predicate the sorted-Seq equality checked.
        val atomicPair = (1L to 4L).map { v =>
          liveAt("lists", "cell", v).select(col("id"))
            .withColumn("version", lit(v)).withColumn("w", lit(1))
            .unionByName(liveAt("raw", "rb", v).select(col("id"))
              .withColumn("version", lit(v)).withColumn("w", lit(-1)))
        }.reduce(_ unionByName _)
          .groupBy("version", "id").agg(sum(col("w")).as("d"))
          .filter(col("d") =!= 0).isEmpty
        IvfPqIndex.probe(s, root,
            e.filter(col("vec_id") < QueryIdMax), "vec_id", "embedding",
            k = TopK, nProbe = IpProbe, refine = IpRefine)
          .transform(nnRows(_))
          .withColumn("conflict_detected", lit(w1Won && w2Lost && w2Won))
          .withColumn("compaction_survived", lit(compactionSurvived))
          .withColumn("atomic_pair", lit(atomicPair))
          .orderBy("query_id", "rank")
          .localCheckpoint(true)
      }
    },
    Some(s"""
      WITH ${ivfPqReplayCtesFrom("ivfpq_base_centroids",
        "ivfpq_base_codebooks", "WHERE corpus.vec_id % 9 <> 4")},
      ${ivfPqRefineTailWith(", TRUE AS conflict_detected" +
        ", TRUE AS compaction_survived, TRUE AS atomic_pair")}""")
  )

  val all: Seq[QueryDef] =
    Seq(sBrute, sIvf, sIvfScaled, sIvfPersist, sIvfAppend, sIvfCompact,
      sIvfStreamIngest, sIvfDelete, sIvfTornCompact, sIvfSnapshotProbe,
      sIvfOccMaint,
      sPq, sSq, sSparse, sRecallIvf,
      sJlProject, sCentroidCos, sMmr, sLshRecall, sMutualNn, sNdcg, sKnn,
      sKnnIvf, sKcenter, sIvfPq, sIvfPqPersist, sIvfPqAppend,
      sIvfPqCompact, sIvfPqDelete, sIvfPqSnapshotProbe, sIvfPqOccMaint)
}
