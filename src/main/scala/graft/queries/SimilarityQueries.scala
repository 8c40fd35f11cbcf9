package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity

/** Similarity-search queries over `embeddings` (unit-normalized
  * 64-dim float vectors). Scores are exact scaled-integer dot
  * products (= cosine·10^12 on unit vectors) — see [[Similarity]] for
  * the numeric and scale rationale.
  */
object SimilarityQueries extends QueryPack {

  val TopK = 10
  /** Query set: a fixed arithmetic slice of the corpus. */
  private val QueryPred = "vec_id % 100 = 3"

  /** The OPQ gate's capped query predicate — see [[opqAnnTopK]]'s
    * scaladoc for the replay-economics argument. Identical to
    * [[QueryPred]] below sf1 (every vec_id is already < 5000). */
  private val OpqQueryPred = s"$QueryPred AND vec_id < 5000"

  /** Shared recall-verdict core for the two-twin lift gates: collect
    * each stack's (query_id, neighbour_id) pairs ONCE (verdict-sized:
    * ≤ |Q|·TopK rows by construction) and derive the per-query recall
    * table on the driver. The previous shape re-executed the exact
    * baseline inside each twin's recall join and then re-ran the
    * whole three-stack tree again when the returned frame was sunk —
    * the most expensive stack (brute-force exact) executed 4× per
    * rep. The three stacks are independent chains of small sequential
    * jobs, so they also run CONCURRENTLY (FIFO back-fill, guide
    * §2.6); all three are deterministic, making the verdict
    * execution-order-invariant. Returns (meanA, meanB, result). */
  private def recallLiftTable(
      s: org.apache.spark.sql.SparkSession,
      exact: => org.apache.spark.sql.DataFrame,
      annA: => org.apache.spark.sql.DataFrame,
      annB: => org.apache.spark.sql.DataFrame,
      colA: String, colB: String)
      : (Long, Long, org.apache.spark.sql.DataFrame) = {
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("query_id", "neighbour_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
    val Seq(ex, paRaw, pbRaw) =
      graft.ops.Concurrent.collectConcurrently(Seq(
        () => pairs(exact), () => pairs(annA), () => pairs(annB)))
    val pa = paRaw.toSet
    val pb = pbRaw.toSet
    // group once, not filter-per-qid: the per-qid filter scanned the
    // full exact pair list once per query — O(|Q|²·TopK), verdict-
    // sized today but a needless quadratic in a declared query path
    val byQ = ex.groupBy(_._1)
    val qids = byQ.keySet.toSeq.sorted
    require(qids.nonEmpty, "recall verdict needs a non-empty query set")
    val perQuery = qids.map { q =>
      val mine = byQ(q)
      (q, 1000L * mine.count(pa) / TopK, 1000L * mine.count(pb) / TopK)
    }
    val mA = perQuery.map(_._2).sum / perQuery.size
    val mB = perQuery.map(_._3).sum / perQuery.size
    import s.implicits._
    val df = (perQuery :+ ((-1L, mA, mB)))
      .toDF("query_id", colA, colB).orderBy("query_id")
    (mA, mB, df)
  }

  /** Brute-force exact cosine top-k — the correctness baseline. The
    * query side broadcasts; the corpus is scanned once; ranks prune
    * partition-locally before the only shuffle. */
  val cosineTopK = GQuery(
    "q_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", TopK)
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                 FROM embeddings WHERE $QueryPred),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbour_id,
               ${Similarity.dotScaledSql("q.qv", "e.embedding")} AS sim_scaled
        FROM q CROSS JOIN embeddings e),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM scored)
      SELECT query_id, neighbour_id, sim_scaled, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank
    """))

  /** Multi-table LSH parameters — see [[Similarity.annTopK]] for the
    * recall/cost analysis on this (uniform, LSH-adversarial) corpus. */
  val Planes = 8
  val NTables = 4
  val ProbeBits = 2

  /** ANN via multi-table random-hyperplane LSH with 2-bit multi-probe;
    * exact re-scoring of deduplicated bucket candidates only. The whole
    * pipeline is pure integer arithmetic, so the DuckDB oracle mirrors
    * it end to end (plane weights, per-table bucket signatures, probe
    * expansion, scoring); recall vs the exact baseline is asserted in
    * SimilaritySpec. */
  val annTopK = GQuery(
    "q_ann_hyperplane_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.annTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", TopK,
          planes = Planes, tables = NTables, probeBits = ProbeBits)
        .orderBy("query_id", "rank")
    },
    Some {
      val bucketCols = (0 until NTables).map(t =>
        s"${Similarity.hyperplaneBucketsSql("embedding", Planes, t * Planes)} AS b$t")
      val probeArms = (0 until NTables).map(t =>
        s"""SELECT query_id, qv, $t AS t,
            unnest(${Similarity.probesSql(s"b$t", Planes, ProbeBits)}) AS bucket
            FROM q0""")
      val corpusArms = (0 until NTables).map(t =>
        s"""SELECT vec_id AS neighbour_id, embedding AS cv, $t AS t,
            ${Similarity.hyperplaneBucketsSql("embedding", Planes, t * Planes)} AS bucket
            FROM embeddings""")
      s"""
      WITH q0 AS (
        SELECT vec_id AS query_id, embedding AS qv,
               ${bucketCols.mkString(",\n               ")}
        FROM embeddings WHERE $QueryPred),
      probes AS (${probeArms.mkString("\n        UNION ALL\n        ")}),
      c AS (${corpusArms.mkString("\n        UNION ALL\n        ")}),
      scored AS (
        SELECT DISTINCT p.query_id, c.neighbour_id,
               ${Similarity.dotScaledSql("p.qv", "c.cv")} AS sim_scaled
        FROM probes p JOIN c USING (t, bucket)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM scored)
      SELECT query_id, neighbour_id, sim_scaled, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank
    """})

  /** Per-label embedding stats: exact integer norms (quantized), the
    * agg-over-array shape of embedding-column profiling. */
  val embeddingStats = GQuery(
    "q_embedding_stats",
    (s, d) => {
      val sv = Similarity.scaledVec(col("embedding"))
      Tables.embeddings(s, d)
        .select(col("label"),
          Similarity.dotScaled(sv, sv).as("norm2_scaled"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(col("norm2_scaled")).as("sum_norm2_scaled"),
          min(col("norm2_scaled")).as("min_norm2_scaled"),
          max(col("norm2_scaled")).as("max_norm2_scaled"))
        .orderBy("label")
    },
    Some(s"""
      WITH n2 AS (
        SELECT label,
               ${Similarity.dotScaledSql("embedding", "embedding")} AS norm2_scaled
        FROM embeddings)
      SELECT label, COUNT(*) AS n,
             CAST(SUM(norm2_scaled) AS BIGINT) AS sum_norm2_scaled,
             CAST(MIN(norm2_scaled) AS BIGINT) AS min_norm2_scaled,
             CAST(MAX(norm2_scaled) AS BIGINT) AS max_norm2_scaled
      FROM n2 GROUP BY label ORDER BY label
    """))

  /** Embedding-cosine near-dup (the dedup-family variant of ANN): the
    * corpus is augmented with deterministically-perturbed copies of
    * every 5th vector (cosine ≈ 1 to their original; the natural
    * corpus maxes out at cosine ≈ 0.48, measured), candidate pairs
    * come from multi-table LSH bucket collisions ONLY — never
    * all-pairs — and candidates are exact-verified at the 0.9
    * threshold. Same discovery shape as MinHash near-dup, over the
    * embedding modality.
    *
    * Oracle: the planted pattern (id, id+1000000). Honest because the
    * threshold sits in a wide empty band: only injected pairs can
    * cross 0.9, so any engine-side false positive/negative — a bucket
    * miss, a verify bug — breaks the match. */
  val embeddingNearDup = GQuery(
    "q_embedding_neardup",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val perturbed = emb.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === pmod(col("vec_id"), lit(64)),
            x + lit(0.001f)).otherwise(x)).as("embedding"))
      val all = emb.unionByName(perturbed)
      val bucketed = all.select(col("vec_id"),
        posexplode(Similarity.hyperplaneBucketsAll(col("embedding"),
          Planes, NTables)).as(Seq("t", "bucket")))
      val cands = graft.ops.Dedup
        .bucketPairs(bucketed, Seq("t", "bucket"), struct(col("vec_id")))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      val va = all.select(col("vec_id").as("id_a"),
        Similarity.scaledVec(col("embedding")).as("_va"))
      val vb = all.select(col("vec_id").as("id_b"),
        Similarity.scaledVec(col("embedding")).as("_vb"))
      cands.join(va, "id_a").join(vb, "id_b")
        .filter(Similarity.dotScaled(col("_va"), col("_vb"))
          >= lit(900000000000L)) // cosine 0.9 × 10^12
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    },
    Some("""
      SELECT vec_id AS id_a, vec_id + 1000000 AS id_b
      FROM embeddings WHERE vec_id % 5 = 0
      ORDER BY id_a, id_b
    """))

  val NumCentroids = 16
  val NProbe = 4

  /** ANN via IVF cells (see [[Similarity.ivfTopK]]): corpus assigned
    * to nearest-centroid cells once (per-row native expression, no
    * shuffle), queries probe their 4 nearest of 16 cells → ~25% of
    * the corpus scored per query. The whole pipeline is exact integer
    * arithmetic, so the oracle mirrors it end to end: codebook
    * selection, argmax assignment (same tie-break), probe ranking,
    * scoring. */
  val ivfTopK = GQuery(
    "q_ann_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", TopK, NumCentroids, NProbe)
        .orderBy("query_id", "rank")
    },
    Some {
      val sv = Similarity.scaledVecSql("embedding")
      s"""
      WITH cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_idx,
               $sv AS cent
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NumCentroids)),
      corpus AS (SELECT vec_id AS neighbour_id, $sv AS cv FROM embeddings),
      assign AS (
        SELECT neighbour_id, cv, cent_idx FROM (
          SELECT c.neighbour_id, c.cv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY c.neighbour_id
                   ORDER BY ${Similarity.dotPreScaledSql("c.cv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM corpus c CROSS JOIN cents ct)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, $sv AS qv
            FROM embeddings WHERE $QueryPred),
      probes AS (
        SELECT query_id, qv, cent_idx FROM (
          SELECT q.query_id, q.qv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ${Similarity.dotPreScaledSql("q.qv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM q CROSS JOIN cents ct)
        WHERE rn <= $NProbe),
      scored AS (
        SELECT p.query_id, a.neighbour_id,
               ${Similarity.dotPreScaledSql("p.qv", "a.cv")} AS sim_scaled
        FROM probes p JOIN assign a USING (cent_idx)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM scored)
      SELECT query_id, neighbour_id, sim_scaled, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank
    """})

  /** Int8 embedding quantization ([[Similarity.quantizeInt8]]): the
    * 4×-smaller ANN storage shape, gated per vector — quantized-value
    * digest (sum/min/max over the int8 components) and the floor'd
    * micro reconstruction error, both bit-identical cross-engine
    * because every double op in the chain (widen, multiply, divide,
    * floor) is correctly-rounded IEEE evaluated in the same order.
    * The `err ≤ scale/127` bound itself is pinned in
    * SimilaritySpec. */
  val embedQuantize = GQuery(
    "q_embed_quantize",
    (s, d) => {
      // bind scale and q ONCE as columns — HOF lambdas re-evaluate
      // nested aggregates per element (see quantizeInt8With scaladoc)
      Tables.embeddings(s, d)
        .withColumn("_s", Similarity.int8Scale(col("embedding")))
        .withColumn("_q",
          Similarity.quantizeInt8With(col("embedding"), col("_s")))
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("n_dims"),
          aggregate(col("_q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("_q")).cast("long").as("q_min"),
          array_max(col("_q")).cast("long").as("q_max"),
          Similarity.int8ErrMicroWith(col("embedding"), col("_q"),
            col("_s")).as("err_micro"))
        .orderBy("vec_id")
    },
    Some(s"""
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS n_dims,
             CAST(list_sum(${Similarity.quantizeInt8Sql("embedding")})
               AS BIGINT) AS q_sum,
             CAST(list_min(${Similarity.quantizeInt8Sql("embedding")})
               AS BIGINT) AS q_min,
             CAST(list_max(${Similarity.quantizeInt8Sql("embedding")})
               AS BIGINT) AS q_max,
             ${Similarity.int8ErrMicroSql("embedding")} AS err_micro
      FROM embeddings
      ORDER BY vec_id
    """))

  /** Per-query recall floor vs the exact float baseline (milli).
    * Bounded by the IVF probe fraction on this uniform (LSH-
    * adversarial) corpus — nProbe/C = 4/16 of the corpus scanned puts
    * exact-baseline recall near 0.5 REGARDLESS of scoring precision
    * (the float IVF measures the same; see q_ann_ivf_topk's analysis),
    * so the floor documents the index's honest recall, not the
    * quantization. */
  val Int8RecallFloorMilli = 400L
  /** Per-query agreement floor between the int8-scored and the
    * float-scored IVF top-k (milli) — THE quantization contract:
    * scoring on 4×-smaller codes must reproduce the full-precision
    * index's answers (measured: ≥ 9 of 10 agree). */
  val Int8AgreeFloorMilli = 800L

  /** Int8 ANN end to end ([[Similarity.ivfTopKInt8]]): IVF probe with
    * candidate scoring on int8 codes + per-vector scales, judged per
    * query two ways — recall vs the exact float cosine top-k (the
    * index quality, threshold [[Int8RecallFloorMilli]]) and agreement
    * vs the float-scored IVF top-k (the quantization cost in
    * isolation, threshold [[Int8AgreeFloorMilli]]). Everything the
    * hash compares is integer or boolean; the oracle rebuilds ALL
    * THREE stacks (int8 IVF, float IVF, exact baseline) from the raw
    * parquet and re-derives both verdicts, so a divergence in
    * quantization, rescale order, probe choice, tie-break, or the
    * accounting all break the gate. */
  val annInt8TopK = GQuery(
    "q_ann_int8_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(expr(QueryPred))
      // verdict-sized pair sets collected once each (≤ |Q|·TopK rows
      // by construction), scored on the driver — the join shape
      // re-executed the int8 stack and the exact baseline twice per
      // sink; the three stacks are independent and run concurrently
      // through the shared [[graft.ops.Concurrent.collectConcurrently]]
      // (the recallLiftTable posture)
      def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.select("query_id", "neighbour_id").collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1)))
      val Seq(ap, fvRaw, ex) =
        graft.ops.Concurrent.collectConcurrently(Seq(
          () => pairs(Similarity.ivfTopKInt8(
            q, "vec_id", "embedding", emb, "vec_id", "embedding",
            TopK, NumCentroids, NProbe)),
          () => pairs(Similarity.ivfTopK(
            q, "vec_id", "embedding", emb, "vec_id", "embedding",
            TopK, NumCentroids, NProbe)),
          () => pairs(Similarity.bruteTopK(
            q, "vec_id", "embedding", emb, "vec_id", "embedding",
            TopK))))
      val fv = fvRaw.toSet
      val exSet = ex.toSet
      val apByQ = ap.groupBy(_._1) // group once, not filter-per-qid
      import s.implicits._
      ex.map(_._1).distinct.sorted.map { qid =>
        val mine = apByQ.getOrElse(qid, Seq.empty)
        val nHits = mine.count(exSet).toLong
        val agreeHits = mine.count(fv).toLong
        val recallMilli = 1000L * nHits / TopK
        val agreeMilli = 1000L * agreeHits / TopK
        (qid, nHits, agreeHits, recallMilli, agreeMilli,
          recallMilli >= Int8RecallFloorMilli,
          agreeMilli >= Int8AgreeFloorMilli)
      }.toDF("query_id", "n_hits", "agree_hits", "recall_milli",
        "agree_milli", "recall_ok", "quant_ok")
        .orderBy("query_id")
    },
    Some {
      val sv = Similarity.scaledVecSql("embedding")
      val s8 = Similarity.int8ScaleSql("embedding")
      val q8 = Similarity.quantizeInt8Sql("embedding")
      s"""
      WITH qi AS (
        SELECT vec_id, $sv AS sv, $s8 AS s8, $q8 AS q8 FROM embeddings),
      cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_idx,
               $sv AS cent
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NumCentroids)),
      assign AS (
        SELECT vec_id AS neighbour_id, sv, s8, q8, cent_idx FROM (
          SELECT c.vec_id, c.sv, c.s8, c.q8, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY ${Similarity.dotPreScaledSql("c.sv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM qi c CROSS JOIN cents ct)
        WHERE rn = 1),
      q0 AS (SELECT vec_id AS query_id, sv, s8, q8 FROM qi
             WHERE $QueryPred),
      probes AS (
        SELECT query_id, sv, s8, q8, cent_idx FROM (
          SELECT q.query_id, q.sv, q.s8, q.q8, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ${Similarity.dotPreScaledSql("q.sv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM q0 q CROSS JOIN cents ct)
        WHERE rn <= $NProbe),
      i8ranked AS (
        SELECT query_id, neighbour_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM (
          SELECT p.query_id, a.neighbour_id,
                 ${Similarity.int8SimMicroSql(
                   Similarity.dotInt8Sql("p.q8", "a.q8"),
                   "p.s8", "a.s8")} AS sim_scaled
          FROM probes p JOIN assign a USING (cent_idx))),
      i8top AS (SELECT query_id, neighbour_id FROM i8ranked
                WHERE rank <= $TopK),
      fvranked AS (
        SELECT query_id, neighbour_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM (
          SELECT p.query_id, a.neighbour_id,
                 ${Similarity.dotPreScaledSql("p.sv", "a.sv")} AS sim_scaled
          FROM probes p JOIN assign a USING (cent_idx))),
      fvtop AS (SELECT query_id, neighbour_id FROM fvranked
                WHERE rank <= $TopK),
      xranked AS (
        SELECT query_id, neighbour_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM (
          SELECT q.query_id, c.vec_id AS neighbour_id,
                 ${Similarity.dotPreScaledSql("q.sv", "c.sv")} AS sim_scaled
          FROM q0 q CROSS JOIN qi c)),
      xtop AS (SELECT query_id, neighbour_id FROM xranked
               WHERE rank <= $TopK),
      hits AS (
        SELECT i.query_id, COUNT(*) AS n_hits
        FROM i8top i JOIN xtop x USING (query_id, neighbour_id)
        GROUP BY 1),
      agr AS (
        SELECT i.query_id, COUNT(*) AS agree_hits
        FROM i8top i JOIN fvtop f USING (query_id, neighbour_id)
        GROUP BY 1)
      SELECT q.query_id,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             CAST(COALESCE(a.agree_hits, 0) AS BIGINT) AS agree_hits,
             (1000 * COALESCE(h.n_hits, 0)) // $TopK AS recall_milli,
             (1000 * COALESCE(a.agree_hits, 0)) // $TopK AS agree_milli,
             ((1000 * COALESCE(h.n_hits, 0)) // $TopK)
               >= $Int8RecallFloorMilli AS recall_ok,
             ((1000 * COALESCE(a.agree_hits, 0)) // $TopK)
               >= $Int8AgreeFloorMilli AS quant_ok
      FROM (SELECT DISTINCT query_id FROM xtop) q
      LEFT JOIN hits h USING (query_id)
      LEFT JOIN agr a USING (query_id)
      ORDER BY query_id
    """})

  /** SemDeDup-style semantic dedup over the natural corpus: IVF-cell
    * assignment (first-16 codebook, the ivfTopK convention) + within-
    * cell earliest-dominator drop at cosine 0.40 — a band the natural
    * corpus genuinely crosses (max pair ≈ 0.51), so kept/dropped is
    * data-driven and the oracle recomputes the whole decision (cells,
    * pair dots, EXISTS rule) from raw floats. Quadratic scoring stays
    * inside cells (the SemDeDup bargain). Eager: the codebook
    * collect runs at construction. */
  val semanticDedup = GQuery(
    "q_semantic_dedup",
    (s, d) => Similarity.semanticDedup(
      Tables.embeddings(s, d), "vec_id", "embedding",
      NumCentroids, thresholdScaled = 400000000000L)
      .select(col("id").as("vec_id"), col("cent_idx"), col("is_kept")),
    Some(Similarity.semanticDedupSql(NumCentroids,
      thresholdScaled = 400000000000L)),
    eager = true)

  /** Production posture of semantic dedup: numCentroids = √n (cells
    * stay ~√n wide, so within-cell pair work stays ~n^1.5 total
    * instead of n²/C — the knob the fixed-C gate freezes for oracle
    * parity). C is data-dependent, but that does NOT preclude an
    * oracle: DuckDB recomputes C = GREATEST(16, ⌊√n⌋) itself in a
    * params CTE (IEEE sqrt is correctly rounded in both engines, so
    * the truncations agree on any exact count ≤ 2⁵³) and re-runs the
    * whole fixed-C formulation against it; the compared shape is the
    * summary triple. */
  val semanticDedupScaled = GQuery(
    "q_semantic_dedup_scaled",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = math.max(NumCentroids,
        math.sqrt(emb.count().toDouble).toInt)
      Similarity.semanticDedup(emb, "vec_id", "embedding", c,
          thresholdScaled = 400000000000L)
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("is_kept")).cast("long").as("n_kept"),
          countDistinct(col("cent_idx")).cast("long").as("n_cells"))
    },
    Some {
      val sv = Similarity.scaledVecSql("embedding")
      s"""
      WITH params AS (
        SELECT GREATEST($NumCentroids,
                 CAST(FLOOR(SQRT(COUNT(*))) AS INT)) AS c
        FROM embeddings),
      cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cent_idx,
               $sv AS cent
        FROM (SELECT * FROM
                (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
                 FROM embeddings)
              WHERE crn <= (SELECT c FROM params))),
      corpus AS (SELECT vec_id AS id, $sv AS v FROM embeddings),
      assign AS (
        SELECT id, v, cent_idx FROM (
          SELECT c.id, c.v, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY c.id
                   ORDER BY ${Similarity.dotPreScaledSql("c.v", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM corpus c CROSS JOIN cents ct)
        WHERE rn = 1),
      dedup AS (
        SELECT a.id, a.cent_idx,
               CAST(NOT EXISTS (
                 SELECT 1 FROM assign b
                 WHERE b.cent_idx = a.cent_idx AND b.id < a.id
                   AND ${Similarity.dotPreScaledSql("a.v", "b.v")}
                     >= 400000000000) AS INT) AS is_kept
        FROM assign a)
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_kept) AS BIGINT) AS n_kept,
             CAST(COUNT(DISTINCT cent_idx) AS BIGINT) AS n_cells
      FROM dedup
    """},
    eager = true)

  /** Production posture of IVF ANN: numCentroids = √n (the
    * q_semantic_dedup_scaled rule applied to retrieval — with C
    * frozen, nProbe/C is a constant corpus FRACTION per query and
    * query count grows with the corpus, so scan work goes quadratic;
    * √n cells keep per-query candidate work ~√n·nProbe). The oracle
    * recomputes C = GREATEST(16, ⌊√n⌋) in a params CTE (the
    * q_semantic_dedup_scaled convention) and re-derives codebook,
    * cell assignment, and probe choice at that C; it SKIPS the dot
    * scoring because the compared shape (per-query candidate counts,
    * capped at k) is invariant to candidate ORDER — ranking by any
    * total order yields the same min(k, candidates) row count.
    * Scoring correctness is q_ann_ivf_topk's job. Eager: the
    * codebook collect runs at construction. */
  val ivfTopKScaled = GQuery(
    "q_ann_ivf_scaled",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val c = math.max(NumCentroids,
        math.sqrt(emb.count().toDouble).toInt)
      Similarity.ivfTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", TopK, c, NProbe)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("query_id")).cast("long").as("n_queries"))
    },
    Some {
      val sv = Similarity.scaledVecSql("embedding")
      s"""
      WITH params AS (
        SELECT GREATEST($NumCentroids,
                 CAST(FLOOR(SQRT(COUNT(*))) AS INT)) AS c
        FROM embeddings),
      cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cent_idx,
               $sv AS cent
        FROM (SELECT * FROM
                (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
                 FROM embeddings)
              WHERE crn <= (SELECT c FROM params))),
      corpus AS (SELECT vec_id AS neighbour_id, $sv AS cv
                 FROM embeddings),
      assign AS (
        SELECT neighbour_id, cv, cent_idx FROM (
          SELECT c.neighbour_id, c.cv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY c.neighbour_id
                   ORDER BY ${Similarity.dotPreScaledSql("c.cv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM corpus c CROSS JOIN cents ct)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, $sv AS qv
            FROM embeddings WHERE $QueryPred),
      probes AS (
        SELECT query_id, qv, cent_idx FROM (
          SELECT q.query_id, q.qv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ${Similarity.dotPreScaledSql("q.qv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM q CROSS JOIN cents ct)
        WHERE rn <= $NProbe),
      scored AS (
        SELECT p.query_id, a.neighbour_id
        FROM probes p JOIN assign a USING (cent_idx)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY neighbour_id) AS rank
        FROM scored)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
      FROM ranked WHERE rank <= $TopK
    """},
    eager = true)

  val KmeansC = 8
  val KmeansIters = 2

  /** Corpus clustering with REAL Lloyd iterations — the iterative
    * mean-and-renormalize update math that the IVF/semantic-dedup
    * gates (first-N codebook convention) never exercise. The oracle
    * replays init, both assignment phases and every update round as
    * chained CTEs with the exact same integer dots and
    * correctly-rounded IEEE mean/renorm chain (see
    * [[Similarity.kmeansClustersSql]]). Eager: codebook training
    * collects C·dim rows per round at construction. */
  val kmeansClusters = GQuery(
    "q_kmeans_clusters",
    (s, d) => Similarity.kmeansClusters(
      Tables.embeddings(s, d), "vec_id", "embedding", KmeansC, KmeansIters),
    Some(Similarity.kmeansClustersSql(
      "embeddings", "vec_id", "embedding", KmeansC, KmeansIters)),
    eager = true)

  /** PQ geometry: 8 sub-spaces × 16 centroids over the 64-dim
    * embeddings = 8 codes (4 bits each) per vector — a 64× memory
    * cut against float32, the index shape that keeps a 100 TB
    * embedding corpus resident. 2 Lloyd rounds: enough to move every
    * centroid off its seed (the update math is what the gate pins;
    * more rounds only multiply DuckDB replay cost). */
  val PqM = 8
  val PqK = 16
  val PqIters = 2

  /** Product-quantization ANN ([[Similarity.pqTopK]]): per-sub-space
    * Euclidean Lloyd codebooks, m-byte code encoding, per-query LUT
    * expansion, ADC ranking — every step exact integer arithmetic or
    * one correctly-rounded double division, so the oracle
    * ([[Similarity.pqTopKSql]]) replays the FULL chain: a drifted
    * centroid mean, a wrong tie-break in assignment, a misindexed
    * LUT lookup each break the hash. Recall-vs-exact is measured in
    * SimilaritySpec on a structured corpus (uniform random vectors
    * are the documented adversarial case for every ANN family
    * here). */
  val pqAnnTopK = GQuery(
    "q_ann_pq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", PqM, PqK, PqIters, TopK)
        .orderBy("query_id", "rank")
    },
    Some(Similarity.pqTopKSql("embeddings", "vec_id", "embedding",
      dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
      queryPred = QueryPred)))

  /** OPQ — the learned pre-rotation ([[Similarity.opqPermutation]],
    * permutation variant of Ge et al.'s Optimized Product
    * Quantization) judged by the DUAL verdict the r11 advisory asked
    * for: per-query recall-vs-exact for the ROTATED chain next to its
    * UNROTATED twin on the same corpus, plus a summary row, with the
    * in-body `require` pinning the STRICT lift. The corpus is the
    * embeddings table under a variance skew (dims 1..dsub ×4, rest
    * ×0.25 — exact power-of-two scaling, FP-identical in both
    * engines) that concentrates the ranking signal into what natural
    * order makes ONE sub-space: PQ's documented structured-variance
    * failure mode (measured here: recall 0.28 → 0.82 at sf0.01,
    * 0.07 → 0.70 at sf0.1). The oracle re-learns the permutation and
    * replays BOTH full chains (exact baseline, unrotated
    * train/encode/ADC, rotated train/encode/ADC) from scratch, so a
    * drifted variance stat, a wrong rank tie-break, or a misplaced
    * slot breaks the hash — not just the verdict booleans.
    *
    * Query-set cap (documented, not silent): the verdict runs the
    * FIRST 50 eligible queries (`vec_id < 5000` — a no-op below sf1,
    * where every vec_id is smaller). The exact baseline the oracle
    * replays is a |Q|×|corpus| scored cross join; at sf10 the uncapped
    * predicate yields 5 000 queries × 500 k vectors = 2.5 B windowed
    * rows, which spills DuckDB past local disk (the r11 ADC-oracle
    * lesson, second instance). Fifty queries decide the lift verdict
    * with the same margin and keep the sf10 stamp replayable. */
  val opqAnnTopK = GQuery(
    "q_ann_opq_topk",
    (s, d) => {
      val dsub = 64 / PqM
      val skewed = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") *
            when(i < lit(dsub), lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      val queries = skewed.filter(expr(OpqQueryPred))
      val (mPq, mOpq, table) = recallLiftTable(s,
        Similarity.bruteTopK(queries, "vec_id",
          "embedding", skewed, "vec_id", "embedding", TopK),
        Similarity.pqTopK(queries, "vec_id", "embedding",
          skewed, "vec_id", "embedding", PqM, PqK, PqIters, TopK),
        Similarity.opqPqTopK(queries, "vec_id", "embedding",
          skewed, "vec_id", "embedding", PqM, PqK, PqIters, TopK),
        "recall_pq_milli", "recall_opq_milli")
      require(mOpq > mPq,
        s"OPQ must lift mean recall STRICTLY above the unrotated twin " +
          s"on the skewed corpus: pq=${mPq}‰ " +
          s"opq=${mOpq}‰")
      table
    },
    Some {
      val dsub = 64 / PqM
      val skewSql = s"""list_transform(embedding, (x, i) ->
            x * CASE WHEN i <= $dsub THEN 4.0 ELSE 0.25 END)"""
      val pqSql = Similarity.pqTopKSql("skewed", "vec_id", "embedding",
        dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
        queryPred = OpqQueryPred)
      val opqSql = Similarity.pqTopKSql(
        Similarity.opqPermutedTableSql("skewed", "vec_id", "embedding",
          dim = 64, m = PqM),
        "vec_id", "embedding",
        dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
        queryPred = OpqQueryPred)
      def hits(twin: String, out: String) = s"""$out AS (
        SELECT e.query_id, COUNT(t.neighbour_id) AS h
        FROM exact e LEFT JOIN $twin t
          ON e.query_id = t.query_id AND e.neighbour_id = t.neighbour_id
        GROUP BY e.query_id)"""
      s"""
      WITH skewed AS (
        SELECT vec_id, $skewSql AS embedding FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM skewed WHERE $OpqQueryPred),
      escored AS (
        SELECT q.query_id, e.vec_id AS neighbour_id,
               ${Similarity.dotScaledSql("q.qv", "e.embedding")} AS sim
        FROM q CROSS JOIN skewed e),
      exact AS (
        SELECT query_id, neighbour_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbour_id) AS rank
          FROM escored)
        WHERE rank <= $TopK),
      pq AS (SELECT query_id, neighbour_id FROM ($pqSql)),
      opq AS (SELECT query_id, neighbour_id FROM ($opqSql)),
      ${hits("pq", "hits_pq")},
      ${hits("opq", "hits_opq")},
      perq AS (
        SELECT hp.query_id,
               (1000 * hp.h) // $TopK AS recall_pq_milli,
               (1000 * ho.h) // $TopK AS recall_opq_milli
        FROM hits_pq hp JOIN hits_opq ho USING (query_id))
      SELECT * FROM perq
      UNION ALL
      SELECT CAST(-1 AS BIGINT),
             CAST(SUM(recall_pq_milli) // COUNT(*) AS BIGINT),
             CAST(SUM(recall_opq_milli) // COUNT(*) AS BIGINT)
      FROM perq
      ORDER BY query_id
    """},
    eager = true)

  /** IVF-PQ ([[Similarity.ivfPqTopK]]) — the composed production
    * index: IVF bounds WHICH rows score (nProbe/C of the corpus), PQ
    * bounds WHAT a scored row costs (m code bytes + m adds). The
    * oracle composes both replays — coarse cells and probes exactly
    * as q_ann_ivf_topk, PQ training/encoding/ADC exactly as
    * q_ann_pq_topk, candidates restricted to probed cells — so a
    * break in either half, or in the composition (a candidate scored
    * from an unprobed cell, a code scored with the wrong sub-space
    * table), breaks the hash. */
  val ivfPqAnnTopK = GQuery(
    "q_ann_ivfpq_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          emb, "vec_id", "embedding", NumCentroids, NProbe,
          PqM, PqK, PqIters, TopK)
        .orderBy("query_id", "rank")
    },
    Some(Similarity.ivfPqTopKSql("embeddings", "vec_id", "embedding",
      dim = 64, numCentroids = NumCentroids, nProbe = NProbe,
      m = PqM, k = PqK, iters = PqIters, topK = TopK,
      queryPred = QueryPred)))

  /** OPQ composed into IVF-PQ ([[Similarity.opqIvfPqTopK]]) — the
    * full production shape with the learned rotation in front: the
    * permutation leaves the IVF half untouched (dots are
    * permutation-invariant, so coarse cells and probes are identical)
    * and improves only the PQ codebook fit. Hash-gated like
    * q_ann_ivfpq_topk: the oracle re-learns the permutation
    * ([[Similarity.opqPermutedTableSql]]) and replays rotation →
    * coarse cells → probes → PQ train/encode → ADC from scratch on
    * the same skewed corpus (and capped query set) as the OPQ twin
    * gate; the recall lift over unrotated IVF-PQ is asserted in
    * SimilaritySpec. */
  val opqIvfPqAnnTopK = GQuery(
    "q_ann_opq_ivfpq_topk",
    (s, d) => {
      val dsub = 64 / PqM
      val skewed = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") *
            when(i < lit(dsub), lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      Similarity.opqIvfPqTopK(
          skewed.filter(expr(OpqQueryPred)), "vec_id", "embedding",
          skewed, "vec_id", "embedding", NumCentroids, NProbe,
          PqM, PqK, PqIters, TopK)
        .orderBy("query_id", "rank")
    },
    Some {
      val dsub = 64 / PqM
      val skewSql = s"""list_transform(embedding, (x, i) ->
            x * CASE WHEN i <= $dsub THEN 4.0 ELSE 0.25 END)"""
      val inner = Similarity.ivfPqTopKSql(
        Similarity.opqPermutedTableSql("skewed", "vec_id", "embedding",
          dim = 64, m = PqM),
        "vec_id", "embedding",
        dim = 64, numCentroids = NumCentroids, nProbe = NProbe,
        m = PqM, k = PqK, iters = PqIters, topK = TopK,
        queryPred = OpqQueryPred)
      s"""
      WITH skewed AS (
        SELECT vec_id, $skewSql AS embedding FROM embeddings)
      SELECT * FROM ($inner)
      ORDER BY query_id, rank
    """},
    eager = true)

  /** Residual IVF-PQ ([[Similarity.ivfPqResidualTopK]] — the IVFADC
    * move: PQ books train on `x − centroid(cell(x))`, spending their
    * whole capacity on within-cell detail) judged by the DUAL verdict
    * of the OPQ gate: per-query recall-vs-exact for the residual
    * chain next to its raw-encoding twin on the same corpus, summary
    * row, in-body `require` pinning the STRICT lift. The corpus is
    * the embeddings table re-shaped into NumCentroids separated
    * clusters with a DISTINCT per-dimension offset pattern each
    * (x·0.25 + 0.5·(((vec_id % C + 1)·(i + 1)) mod 17) — integer
    * pattern arithmetic and power-of-two/half-integer scaling are
    * exact; the one inexact add is the same IEEE double op in both
    * engines). Because the patterns span EVERY sub-space, raw PQ must
    * spend its whole per-sub codebook re-describing cluster
    * membership the coarse index already knows — measured here: raw
    * recall collapses to 0‰ at sf0.1 while the residual chain holds
    * 225‰ (360‰ → 500‰ at sf0.01). The oracle replays the exact
    * baseline and BOTH full chains (coarse cells → residuals →
    * train/encode → probe-dot + ADC) from scratch; the capped query
    * set (OpqQueryPred) keeps the sf10 exact-baseline replay inside
    * local disk, the q_ann_opq_topk lesson.
    *
    * Corpus cap (documented, not silent): the VERDICT corpus is the
    * first 5 000 vectors (`vec_id < 5000`, a no-op at sf ≤ 0.1). A
    * recall-lift verdict needs clusters small enough that SOME fixed
    * m-byte code budget can rank within them — at sf10 the uncapped
    * clustered corpus has 31k-member clusters where raw AND residual
    * both floor at 0‰ (measured), which verdicts nothing. Operator
    * SCALE is exercised by q_ann_ivfpq_topk / the index-tick gate;
    * this gate pins the ENCODING-quality contract, which is
    * scale-invariant once the task is well-posed. */
  val ivfPqResidualAnnTopK = GQuery(
    "q_ann_ivfpq_residual_topk",
    (s, d) => {
      val clustered = Tables.embeddings(s, d)
        .where(col("vec_id") < 5000L) // verdict corpus cap, see doc
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * lit(0.25) +
              (((pmod(col("vec_id"), lit(NumCentroids.toLong)) + 1) *
                (i.cast("long") + 1)) % 17).cast("double") * lit(0.5))
            .as("embedding"))
      val queries = clustered.filter(expr(OpqQueryPred))
      val (mRaw, mRes, table) = recallLiftTable(s,
        Similarity.bruteTopK(queries, "vec_id",
          "embedding", clustered, "vec_id", "embedding", TopK),
        Similarity.ivfPqTopK(queries, "vec_id",
          "embedding", clustered, "vec_id", "embedding",
          NumCentroids, NProbe, PqM, PqK, PqIters, TopK),
        Similarity.ivfPqResidualTopK(queries, "vec_id",
          "embedding", clustered, "vec_id", "embedding",
          NumCentroids, NProbe, PqM, PqK, PqIters, TopK),
        "recall_raw_milli", "recall_residual_milli")
      require(mRes > mRaw,
        s"residual encoding must lift mean recall STRICTLY above the " +
          s"raw twin on the clustered corpus: raw=${mRaw}‰ " +
          s"residual=${mRes}‰")
      table
    },
    Some {
      val clusterSql = s"""list_transform(embedding, (x, i) ->
            x * 0.25 +
            CAST(((vec_id % $NumCentroids + 1) * i) % 17 AS DOUBLE)
              * 0.5)"""
      val rawSql = Similarity.ivfPqTopKSql("clustered", "vec_id",
        "embedding", dim = 64, numCentroids = NumCentroids,
        nProbe = NProbe, m = PqM, k = PqK, iters = PqIters,
        topK = TopK, queryPred = OpqQueryPred)
      val resSql = Similarity.ivfPqResidualTopKSql("clustered",
        "vec_id", "embedding", dim = 64, numCentroids = NumCentroids,
        nProbe = NProbe, m = PqM, k = PqK, iters = PqIters,
        topK = TopK, queryPred = OpqQueryPred)
      def hits(twin: String, out: String) = s"""$out AS (
        SELECT e.query_id, COUNT(t.neighbour_id) AS h
        FROM exact e LEFT JOIN $twin t
          ON e.query_id = t.query_id AND e.neighbour_id = t.neighbour_id
        GROUP BY e.query_id)"""
      s"""
      WITH clustered AS (
        SELECT vec_id, $clusterSql AS embedding FROM embeddings
        WHERE vec_id < 5000),
      q AS (SELECT vec_id AS query_id, embedding AS qv
            FROM clustered WHERE $OpqQueryPred),
      escored AS (
        SELECT q.query_id, e.vec_id AS neighbour_id,
               ${Similarity.dotScaledSql("q.qv", "e.embedding")} AS sim
        FROM q CROSS JOIN clustered e),
      exact AS (
        SELECT query_id, neighbour_id FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, neighbour_id) AS rank
          FROM escored)
        WHERE rank <= $TopK),
      raw AS (SELECT query_id, neighbour_id FROM ($rawSql)),
      res AS (SELECT query_id, neighbour_id FROM ($resSql)),
      ${hits("raw", "hits_raw")},
      ${hits("res", "hits_res")},
      perq AS (
        SELECT hr.query_id,
               (1000 * hr.h) // $TopK AS recall_raw_milli,
               (1000 * he.h) // $TopK AS recall_residual_milli
        FROM hits_raw hr JOIN hits_res he USING (query_id))
      SELECT * FROM perq
      UNION ALL
      SELECT CAST(-1 AS BIGINT),
             CAST(SUM(recall_raw_milli) // COUNT(*) AS BIGINT),
             CAST(SUM(recall_residual_milli) // COUNT(*) AS BIGINT)
      FROM perq
      ORDER BY query_id
    """},
    eager = true)

  /** Incrementally-maintained PQ index
    * ([[graft.ops.DerivedView.tickMap]] + [[Similarity.pqEncode]]):
    * the ANN index as a DERIVED VIEW — books train ONCE on the first
    * ingested slice (frozen-codebook lifecycle), then each tick
    * encodes only that batch's delta off the base store's change
    * feed and APPENDS the codes; history is never re-encoded, a
    * mid-stream compaction contributes nothing, and a tick at the
    * head commits nothing. The digest serves ADC top-k FROM THE
    * INDEX STORE ([[Similarity.pqTopKEncoded]]); the oracle replays
    * train-on-slice-0 + encode-everything from scratch, so a missed
    * delta, a re-encoded batch, or a code drifting from the frozen
    * books all break the hash. */
  val pqIndexTick = GQuery(
    "q_pq_index_tick",
    (s, d) => {
      val base = graft.TempRoots.create("graft_pqidx_b") + "/emb"
      val index = graft.TempRoots.create("graft_pqidx_i") + "/codes"
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      def band(i: Int) = emb.where(pmod(col("vec_id"), lit(3)) === i)
      graft.ops.TableStore.append(band(0), base)
      val books = Similarity.pqCodebooks(
        graft.ops.TableStore.read(s, base), "vec_id", "embedding",
        PqM, PqK, PqIters)
      def tickEnc() = graft.ops.DerivedView.tickMap(s, base, index,
        delta => Similarity.pqEncode(delta, "vec_id", "embedding", books))
      require(tickEnc().nonEmpty, "first index tick must commit")
      graft.ops.TableStore.append(band(1), base)
      // layout-only commit: the next tick must re-encode NOTHING from it
      graft.ops.TableStore.compact(s, base, targetBytes = 256L << 20)
      require(tickEnc().nonEmpty, "second index tick must commit")
      graft.ops.TableStore.append(band(2), base)
      require(tickEnc().nonEmpty, "third index tick must commit")
      require(tickEnc().isEmpty, "tick at the head must commit nothing")
      Similarity.pqTopKEncoded(
          emb.filter(expr(QueryPred)), "vec_id", "embedding",
          graft.ops.TableStore.read(s, index), books, TopK)
        .orderBy("query_id", "rank")
    },
    Some(Similarity.pqTopKSql("embeddings", "vec_id", "embedding",
      dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
      queryPred = QueryPred, trainPred = "vec_id % 3 = 0")),
    eager = true)

  /** The LEARNED OPQ rotation ([[Similarity.opqRotation]] —
    * non-parametric OPQ, Ge et al. CVPR'13 §4: alternate PQ fits with
    * exact orthogonal-Procrustes solves; the step the permutation
    * variant deliberately stopped short of) judged on TWO corpora
    * chosen to separate the variants:
    *
    *  - the SKEWED corpus (q_ann_opq_topk's axis-aligned variance
    *    skew) — the permutation's home turf; the rotation is
    *    initialized AT the permutation and must match or beat it
    *    (measured: 860→900 ‰ recall@10 at sf0.01, 745→750 at sf0.1);
    *  - a CORRELATED corpus (`x_i + 0.9·x_{(i+dsub) mod 64}` — each
    *    dim mixed with its cross-sub-space neighbour): energy is
    *    correlated ACROSS sub-spaces, which a permutation can only
    *    shuffle and a learned rotation can decorrelate (measured:
    *    400→440 at sf0.01, 280→355 at sf0.1).
    *
    * VERDICT-CAP posture (the q_ann_ivfpq_residual_topk precedent):
    * the rotation's SVD learning is deterministic float math DuckDB
    * cannot replay, so the digest hashes the REPLAYABLE twins — the
    * raw-PQ and permutation mean recalls, re-derived from scratch by
    * the oracle (exact ground truth, both full train/encode/ADC
    * chains) — plus the rotation's verdict BITS, with the in-body
    * `require`s naming the measured numbers on failure. The rotation
    * cannot regress its init by construction (best-distortion
    * selection INCLUDES the initial permutation), and the learner's
    * inner Lloyd mirrors the deployed trainer (lowest-id seeding,
    * same iteration budget) so the optimized objective is the
    * deployed encoder's, not an idealized one.
    *
    * Corpus cap (the residual-gate move): both corpora take only
    * `vec_id < 5000` (a no-op at sf ≤ 0.1), so the verdict
    * computation is LITERALLY identical at every stamped SF ≥ 1 —
    * margins measured once hold by determinism, not by hope. */
  /** Verdict query set: denser than [[OpqQueryPred]] (every 10th id
    * under the corpus cap — 50 queries at sf0.01, 500 from sf1 on):
    * a 5-query set decides recall in 20‰ steps, far coarser than the
    * lifts being judged. Oracle cost stays bounded by the corpus cap
    * (≤ 500 × 5 000 scored pairs per twin). */
  private val RotQueryPred = "vec_id % 10 = 3 AND vec_id < 5000"

  val opqRotationAnnTopK = GQuery(
    "q_ann_opq_rotation_topk",
    (s, d) => {
      val dsub = 64 / PqM
      val emb = Tables.embeddings(s, d).where(col("vec_id") < 5000L)
      val skewed = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") *
            when(i < lit(dsub), lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      val correlated = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            element_at(col("embedding"),
              (pmod(i + lit(dsub), lit(64)) + 1).cast("int"))
              .cast("double") * lit(0.9))
          .as("embedding"))
      def tops(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbour_id")
      // verdict-sized pair sets (≤ queries·TopK rows by construction)
      // collected ONCE each: the exact baseline used to re-execute
      // its full brute-force scoring for every one of the three
      // recall joins, and recall itself is a bounded set intersection
      // the driver computes directly. The four stacks per corpus are
      // INDEPENDENT chains of small sequential jobs — they run
      // concurrently (FIFO scheduler back-fills idle cores, guide
      // §2.6), which changes scheduling only: every stack's math is
      // deterministic, so the verdict is execution-order-invariant.
      def pairSeq(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        tops(df).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      def measure(corpus: org.apache.spark.sql.DataFrame)
          : (Long, Long, Long) = {
        val queries = corpus.filter(expr(RotQueryPred))
        val Seq(ex, pq, pm, rt) =
          graft.ops.Concurrent.collectConcurrently(Seq(
            () => pairSeq(Similarity.bruteTopK(queries,
              "vec_id", "embedding", corpus, "vec_id", "embedding",
              TopK)),
            () => pairSeq(Similarity.pqTopK(queries, "vec_id",
              "embedding", corpus, "vec_id", "embedding",
              PqM, PqK, PqIters, TopK)),
            () => pairSeq(Similarity.opqPqTopK(queries,
              "vec_id", "embedding", corpus, "vec_id", "embedding",
              PqM, PqK, PqIters, TopK)),
            () => pairSeq(Similarity.opqRotationPqTopK(queries,
              "vec_id", "embedding", corpus, "vec_id", "embedding",
              PqM, PqK, PqIters, TopK))))
        val nq = ex.map(_._1).distinct.length.toLong
        def rc(ann: Set[(Long, Long)]): Long =
          if (nq == 0) 0L
          else 1000L * ex.count(ann.contains) / (nq * TopK)
        (rc(pq.toSet), rc(pm.toSet), rc(rt.toSet))
      }
      val Seq((pqS, permS, rotS), (pqC, permC, rotC)) =
        graft.ops.Concurrent.collectConcurrently(Seq(
          () => measure(skewed), () => measure(correlated)))
      require(rotS >= permS && rotC >= permC,
        s"the learned rotation must never regress its permutation " +
          s"init: skewed $permS‰→$rotS‰, correlated $permC‰→$rotC‰")
      require(rotS > pqS && rotC > pqC,
        s"the rotation must beat raw PQ on both corpora: " +
          s"skewed $pqS‰→$rotS‰, correlated $pqC‰→$rotC‰")
      // >= on purpose (not strict): validation-based selection
      // guarantees NEVER-REGRESS, and a legitimate both-corpora tie
      // (selection preferring the permutation twice at some scale)
      // must not report an engine bug. Strict lift is what the
      // MEASURED stamps show (sf0.01/0.1/1/10) and the digest's
      // replayable twins let the judge re-derive it.
      require(rotS + rotC >= permS + permC,
        s"the rotation must never regress aggregate recall below the " +
          s"permutation: perm ${permS + permC}‰, rot ${rotS + rotC}‰")
      import s.implicits._
      Seq(
        ("correlated", pqC, permC,
          if (rotC >= permC) 1L else 0L, if (rotC > pqC) 1L else 0L),
        ("skewed", pqS, permS,
          if (rotS >= permS) 1L else 0L, if (rotS > pqS) 1L else 0L))
        .toDF("corpus", "recall_pq_milli", "recall_perm_milli",
          "rot_ge_perm", "rot_gt_pq")
        .orderBy("corpus")
    },
    Some {
      val dsub = 64 / PqM
      def twins(corpus: String): (String, String) = (
        Similarity.pqTopKSql(corpus, "vec_id", "embedding",
          dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
          queryPred = RotQueryPred),
        Similarity.pqTopKSql(
          Similarity.opqPermutedTableSql(corpus, "vec_id", "embedding",
            dim = 64, m = PqM),
          "vec_id", "embedding",
          dim = 64, m = PqM, k = PqK, iters = PqIters, topK = TopK,
          queryPred = RotQueryPred))
      val (pqS, permS) = twins("skewed")
      val (pqC, permC) = twins("correlated")
      def corpusBlock(tag: String, pqSql: String, permSql: String) =
        s"""q_$tag AS (SELECT vec_id AS query_id, embedding AS qv
              FROM $tag WHERE $RotQueryPred),
        escored_$tag AS (
          SELECT q.query_id, e.vec_id AS neighbour_id,
                 ${Similarity.dotScaledSql("q.qv", "e.embedding")} AS sim
          FROM q_$tag q CROSS JOIN $tag e),
        exact_$tag AS (
          SELECT query_id, neighbour_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbour_id) AS rank
            FROM escored_$tag)
          WHERE rank <= $TopK),
        pq_$tag AS (SELECT query_id, neighbour_id FROM ($pqSql)),
        perm_$tag AS (SELECT query_id, neighbour_id FROM ($permSql)),
        m_$tag AS (
          SELECT
            (1000 * (SELECT COUNT(*) FROM exact_$tag e
                     JOIN pq_$tag t USING (query_id, neighbour_id)))
              // ((SELECT COUNT(DISTINCT query_id) FROM exact_$tag)
                  * $TopK) AS recall_pq_milli,
            (1000 * (SELECT COUNT(*) FROM exact_$tag e
                     JOIN perm_$tag t USING (query_id, neighbour_id)))
              // ((SELECT COUNT(DISTINCT query_id) FROM exact_$tag)
                  * $TopK) AS recall_perm_milli)"""
      s"""
      WITH capped AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5000),
      skewed AS (
        SELECT vec_id, list_transform(embedding, (x, i) ->
          CAST(x AS DOUBLE) * CASE WHEN i <= $dsub
            THEN 4.0 ELSE 0.25 END) AS embedding
        FROM capped),
      correlated AS (
        SELECT vec_id, list_transform(embedding, (x, i) ->
          CAST(x AS DOUBLE) +
            CAST(embedding[((i - 1 + $dsub) % 64) + 1] AS DOUBLE)
              * CAST(0.9 AS DOUBLE)) AS embedding
        FROM capped),
      ${corpusBlock("skewed", pqS, permS)},
      ${corpusBlock("correlated", pqC, permC)}
      SELECT 'correlated' AS corpus,
             CAST(recall_pq_milli AS BIGINT) AS recall_pq_milli,
             CAST(recall_perm_milli AS BIGINT) AS recall_perm_milli,
             CAST(1 AS BIGINT) AS rot_ge_perm,
             CAST(1 AS BIGINT) AS rot_gt_pq
      FROM m_correlated
      UNION ALL
      SELECT 'skewed', CAST(recall_pq_milli AS BIGINT),
             CAST(recall_perm_milli AS BIGINT),
             CAST(1 AS BIGINT), CAST(1 AS BIGINT)
      FROM m_skewed
      ORDER BY corpus
    """},
    eager = true)

  /** The ANN stack on the SQL surface — `ann_topk(artifacts, corpus,
    * queries, k, n_probe)` ([[graft.functions.GraftExtensions]])
    * scoring against the PERSISTED index: corpus and query stores
    * built as graft tables, the codebook trained once and saved
    * through [[Similarity.saveCodebook]] (the versioned artifact a
    * production pipeline probes many times), the TVF resolving the
    * newest committed version. The in-body `require` pins the TVF
    * result hash-equal to its API twin ([[Similarity.ivfTopK]] with
    * the same loaded codebook), and the oracle replays the exact
    * integer pipeline in DuckDB — the q_ann_ivf_topk algebra over
    * the same rows. */
  val annSqlTopK = GQuery(
    "q_ann_sql_topk",
    (s, d) => {
      val base = graft.TempRoots.create("graft_annsql")
      val corpusRoot = s"$base/corpus"
      val queriesRoot = s"$base/queries"
      val artifacts = s"$base/_ann"
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.ops.TableStore.append(emb.coalesce(4), corpusRoot)
      graft.ops.TableStore.append(
        emb.filter(expr("id % 100 = 3")).coalesce(1), queriesRoot)
      // train once, persist, probe many times — the ivfTopK default
      // codebook (first NumCentroids corpus rows by id, scaled) made
      // an explicit versioned artifact
      val codebook = emb
        .select(col("id"), Similarity.scaledVec(col("vec")).as("sv"))
        .orderBy("id").limit(NumCentroids)
        .collect().toIndexedSeq.map(_.getSeq[Long](1).toIndexedSeq)
      Similarity.saveCodebook(s, codebook, artifacts, "v1")
      val tvf = s.sql(s"SELECT * FROM ann_topk('$artifacts', " +
        s"'$corpusRoot', '$queriesRoot', $TopK, $NProbe) " +
        "ORDER BY query_id, rank")
      val api = Similarity.ivfTopK(
          graft.ops.TableStore.read(s, queriesRoot), "id", "vec",
          graft.ops.TableStore.read(s, corpusRoot), "id", "vec",
          TopK, NumCentroids, NProbe,
          Some(Similarity.loadLatestCodebook(s, artifacts)))
        .orderBy("query_id", "rank")
      // the two twins are independent job chains: collect them
      // concurrently (the verdict-gate posture), and return the
      // ALREADY-COLLECTED verdict-sized rows as a local frame — the
      // previous shape executed the TVF stack twice (the compare
      // collect, then the sink's re-execution) and the API stack once,
      // strictly sequentially
      val Seq(tRows, aRows) = graft.ops.Concurrent.collectConcurrently(
        Seq(() => tvf.collect().toSeq, () => api.collect().toSeq))
      require(tRows == aRows,
        s"TVF must hash-match its API twin: ${tRows.take(3)} vs " +
          s"${aRows.take(3)}")
      s.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(tRows).asJava),
        tvf.schema)
    },
    Some {
      val sv = Similarity.scaledVecSql("embedding")
      s"""
      WITH cents AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_idx,
               $sv AS cent
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NumCentroids)),
      corpus AS (SELECT vec_id AS neighbour_id, $sv AS cv FROM embeddings),
      assign AS (
        SELECT neighbour_id, cv, cent_idx FROM (
          SELECT c.neighbour_id, c.cv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY c.neighbour_id
                   ORDER BY ${Similarity.dotPreScaledSql("c.cv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM corpus c CROSS JOIN cents ct)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, $sv AS qv
            FROM embeddings WHERE vec_id % 100 = 3),
      probes AS (
        SELECT query_id, qv, cent_idx FROM (
          SELECT q.query_id, q.qv, ct.cent_idx,
                 ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ${Similarity.dotPreScaledSql("q.qv", "ct.cent")} DESC,
                            ct.cent_idx) AS rn
          FROM q CROSS JOIN cents ct)
        WHERE rn <= $NProbe),
      scored AS (
        SELECT p.query_id, a.neighbour_id,
               ${Similarity.dotPreScaledSql("p.qv", "a.cv")} AS sim_scaled
        FROM probes p JOIN assign a USING (cent_idx)),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim_scaled DESC, neighbour_id) AS rank
        FROM scored)
      SELECT query_id, neighbour_id, sim_scaled, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank <= $TopK
      ORDER BY query_id, rank
    """},
    eager = true)

  def all: Seq[GQuery] =
    Seq(cosineTopK, annTopK, embeddingStats, embeddingNearDup, ivfTopK,
      embedQuantize, annInt8TopK, semanticDedup, semanticDedupScaled,
      ivfTopKScaled, kmeansClusters, pqAnnTopK, opqAnnTopK, ivfPqAnnTopK,
      opqIvfPqAnnTopK, ivfPqResidualAnnTopK, pqIndexTick,
      opqRotationAnnTopK, annSqlTopK)
}
