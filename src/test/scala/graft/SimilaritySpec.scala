package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity

/** ANN quality: hyperplane-LSH top-k recall vs the exact brute-force
  * baseline on real testdata embeddings — the assertion the
  * SimilarityQueries scaladoc promises.
  */
class SimilaritySpec extends SparkSpec {

  private val K = 10

  private def neighbourSets(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbour_id")).toSet).toMap

  test("ANN recall ≥ 0.5 vs exact top-10 on sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, TinySf)
    val queries = emb.filter(expr("vec_id % 100 = 3"))
    val exact = neighbourSets(
      Similarity.bruteTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K))
    val ann = neighbourSets(
      Similarity.annTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K,
        planes = graft.queries.SimilarityQueries.Planes,
        tables = graft.queries.SimilarityQueries.NTables,
        probeBits = graft.queries.SimilarityQueries.ProbeBits))
    assert(exact.nonEmpty)
    val recalls = exact.map { case (q, ex) =>
      ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean ANN recall@$K over ${recalls.size} queries: $mean%.3f")
    assert(mean >= 0.5)
  }

  test("IVF recall matches the scanned fraction on uniform embeddings") {
    val emb = Tables.embeddings(spark, TinySf)
    val queries = emb.filter(expr("vec_id % 100 = 3"))
    val exact = neighbourSets(
      Similarity.bruteTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K))
    val ivf = neighbourSets(
      Similarity.ivfTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K,
        graft.queries.SimilarityQueries.NumCentroids,
        graft.queries.SimilarityQueries.NProbe))
    val recalls = exact.map { case (q, ex) =>
      ivf.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean IVF recall@$K: $mean%.3f (uniform corpus: expect ≈ nProbe/C = 0.25)")
    // uniform embeddings are the adversarial case: cells carry no
    // signal, so recall ≈ scanned fraction; clustered real-world data
    // concentrates neighbours in probed cells
    assert(mean >= 0.15)
  }

  /** Mean best-cell cosine (scaled): the spherical k-means objective. */
  private def objective(emb: org.apache.spark.sql.DataFrame,
                        codebook: Seq[Seq[Long]]): Double = {
    val s = spark; import s.implicits._
    val centDf = broadcast(codebook.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cent_idx", "_cent"))
    emb.select(col("vec_id"),
        Similarity.scaledVec(col("embedding")).as("sv"))
      .crossJoin(centDf)
      .withColumn("d", Similarity.dotScaled(col("sv"), col("_cent")))
      .groupBy("vec_id").agg(max("d").as("best"))
      .agg(avg("best")).head().getDouble(0)
  }

  test("spherical k-means training raises the cosine objective, deterministically") {
    val emb = Tables.embeddings(spark, TinySf)
    val C = graft.queries.SimilarityQueries.NumCentroids
    val cb0 = Similarity.kmeansCodebook(emb, "vec_id", "embedding", C, iters = 0)
    val cb4 = Similarity.kmeansCodebook(emb, "vec_id", "embedding", C, iters = 4)
    val (o0, o4) = (objective(emb, cb0), objective(emb, cb4))
    info(f"objective: init $o0%.3e → trained $o4%.3e")
    // Lloyd + renormalize is monotone in the cosine objective; the
    // 0.1% slack absorbs integer-rounding epsilon only
    assert(o4 >= o0 * 0.999, s"training degraded the objective: $o0 → $o4")
    assert(o4 > o0, "training moved nothing — suspicious on 500 vectors")
    assert(cb4 == Similarity.kmeansCodebook(
      emb, "vec_id", "embedding", C, iters = 4),
      "codebook training must be deterministic across runs")
  }

  test("kmeansClusters digests: partition of the corpus, cohesion " +
      "bounded by membership, deterministic") {
    val emb = Tables.embeddings(spark, TinySf)
    val out = Similarity.kmeansClusters(emb, "vec_id", "embedding",
      numCentroids = 8, iters = 2).collect()
    assert(out.map(_.getInt(0)).toSeq == out.map(_.getInt(0)).toSeq.sorted)
    assert(out.map(_.getLong(1)).sum == emb.count(),
      "cluster memberships must partition the corpus")
    val total = emb.agg(org.apache.spark.sql.functions.sum("vec_id"))
      .head().getLong(0)
    assert(out.map(_.getLong(2)).sum == total,
      "member-id sums must partition the id mass")
    // unit vectors: each member·centroid dot ≤ ~10^12 (+rounding slack)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) * 1013000000000L,
        s"cohesion exceeds the unit-cosine bound in cluster ${r.getInt(0)}")
    }
    val again = Similarity.kmeansClusters(emb, "vec_id", "embedding",
      numCentroids = 8, iters = 2).collect()
    assert(out.toSeq == again.toSeq, "clustering must be deterministic")
  }

  test("trained codebook plugs into ivfTopK with sane recall") {
    val emb = Tables.embeddings(spark, TinySf)
    val queries = emb.filter(expr("vec_id % 100 = 3"))
    val cb = Similarity.kmeansCodebook(emb, "vec_id", "embedding",
      graft.queries.SimilarityQueries.NumCentroids, iters = 4)
    val exact = neighbourSets(
      Similarity.bruteTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K))
    val ivf = neighbourSets(
      Similarity.ivfTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K,
        graft.queries.SimilarityQueries.NumCentroids,
        graft.queries.SimilarityQueries.NProbe,
        trainedCodebook = Some(cb)))
    val recalls = exact.map { case (q, ex) =>
      ivf.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean IVF recall@$K with trained codebook: $mean%.3f")
    assert(mean >= 0.15)

    // train-once/probe-many: the codebook round-trips through the
    // versioned artifact store and the LOADED copy drives ivfTopK to
    // identical results (the whole point of persisting the index)
    val root = graft.TempRoots
      .create("graft_cb")
    Similarity.saveCodebook(spark, cb, root, "2026-05-01")
    Similarity.saveCodebook(spark, cb.map(_.map(_ + 1L)), root, "2026-04-01")
    assert(Similarity.listCodebooks(spark, root) ==
      Seq("ivf_codebook_2026-04-01", "ivf_codebook_2026-05-01"))
    val loaded = Similarity.loadLatestCodebook(spark, root)
    assert(loaded == cb, "latest = newest version, loaded bit-identical")
    val viaLoaded = neighbourSets(
      Similarity.ivfTopK(queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", K,
        graft.queries.SimilarityQueries.NumCentroids,
        graft.queries.SimilarityQueries.NProbe,
        trainedCodebook = Some(loaded)))
    assert(viaLoaded == ivf)
    // an uncommitted artifact (no _SUCCESS) must be invisible
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/ivf_codebook_2026-05-01/_SUCCESS"), false)
    assert(Similarity.loadLatestCodebook(spark, root)
      == cb.map(_.map(_ + 1L)), "crashed save must not be 'latest'")
  }

  test("int8 quantization: hand-checked values, zero vector, and the " +
    "err <= scale/127 contract on the real corpus") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
    // the error from an already-quantized column and its bound scale
    def errMicro(v: Column): Column = {
      val sc = graft.ops.Similarity.int8Scale(v)
      graft.ops.Similarity.int8ErrMicroWith(v,
        graft.ops.Similarity.quantizeInt8With(v, sc), sc)
    }
    val out = df.select(col("id"),
      graft.ops.Similarity.quantizeInt8(col("v")).as("q"),
      errMicro(col("v")).as("e"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getLong(2))).toMap
    // scale 1.0: q = floor(127*v) = [127, -64, 31, 0]
    assert(out(1L)._1 == Seq(127, -64, 31, 0), out(1L))
    // worst component: |31/127 - 0.25| = 0.0059055... -> 5905 micro
    assert(out(1L)._2 == 5905L, out(1L))
    assert(out(2L)._1 == Seq(0, 0, 0, 0) && out(2L)._2 == 0L, out(2L))

    // the contract on every real vector: err <= scale/127
    val bad = Tables.embeddings(spark, TinySf).select(
      errMicro(col("embedding")).as("e"),
      floor(graft.ops.Similarity.int8Scale(col("embedding"))
        * lit(1000000.0) / lit(127.0)).cast("long").as("bound"))
      .filter(col("e") > col("bound")).count()
    assert(bad == 0L, s"$bad vectors violate the int8 error bound")
  }

  test("int8 integer-dot ranking preserves exact cosine top-10 well " +
    "on unit vectors") {
    val s = spark
    val emb = Tables.embeddings(s, TinySf)
    val q = emb.filter(expr("vec_id % 100 = 3"))
    val exact = graft.ops.Similarity.bruteTopK(
      q, "vec_id", "embedding", emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbour_id")
    // quantized twin: rank by the exact integer dot of int8 vectors
    val qq = q.select(col("vec_id").as("qid"),
      graft.ops.Similarity.quantizeInt8(col("embedding")).as("qv"))
    val cc = emb.select(col("vec_id").as("cid"),
      graft.ops.Similarity.quantizeInt8(col("embedding")).as("cv"))
    val scored = cc.crossJoin(broadcast(qq))
      .select(col("qid"), col("cid"),
        aggregate(zip_with(col("qv"), col("cv"),
          (a, b) => a.cast("long") * b.cast("long")),
          lit(0L), (acc, x) => acc + x).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("dot").desc, col("cid").asc)
    val quant = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("qid").as("query_id"), col("cid").as("neighbour_id"))
    val overlap = exact.join(quant, Seq("query_id", "neighbour_id"))
      .count()
    val total = exact.count()
    assert(total > 0)
    // int8 on unit vectors: expect most of the exact list to survive
    assert(overlap * 10 >= total * 8,
      s"int8 recall too low: $overlap / $total")
  }

  test("ivfTopKInt8 agrees with the float-scored IVF top-10 (the " +
    "quantization contract) and returns k ranked rows per query") {
    val s = spark
    val emb = Tables.embeddings(s, TinySf)
    val q = emb.filter(expr("vec_id % 100 = 3"))
    val i8 = graft.ops.Similarity.ivfTopKInt8(
      q, "vec_id", "embedding", emb, "vec_id", "embedding",
      10, 16, 4)
    val fv = graft.ops.Similarity.ivfTopK(
      q, "vec_id", "embedding", emb, "vec_id", "embedding",
      10, 16, 4)
    val perQuery = i8.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) == 10L))
    val agree = i8.select("query_id", "neighbour_id")
      .join(fv.select("query_id", "neighbour_id"),
        Seq("query_id", "neighbour_id")).count()
    val total = fv.count()
    assert(agree * 10 >= total * 8,
      s"int8 IVF diverges from float IVF: $agree / $total")
  }

  test("ivfTopKInt8 plan: broadcast probes, no sort-merge join, " +
    "TopKAgg partial aggregation (bounded pre-shuffle prune)") {
    val s = spark
    val emb = Tables.embeddings(s, TinySf)
    val q = emb.filter(expr("vec_id % 100 = 3"))
    val plan = graft.ops.Similarity.ivfTopKInt8(
      q, "vec_id", "embedding", emb, "vec_id", "embedding", 10, 16, 4)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
  }

  test("scaled dot product is exact and symmetric") {
    val s = spark; import s.implicits._
    val df = Seq((Array(0.5f, -0.25f), Array(0.1f, 0.4f)))
      .toDF("a", "b")
      .select(Similarity.dotScaled(
        Similarity.scaledVec(col("a")), Similarity.scaledVec(col("b"))).as("d"),
        Similarity.dotScaled(
          Similarity.scaledVec(col("b")), Similarity.scaledVec(col("a"))).as("d2"))
    val r = df.head()
    // 0.5*0.1 + (-0.25)*0.4 = -0.05 → scaled by 10^12
    assert(r.getLong(0) === -50000000000L)
    assert(r.getLong(0) === r.getLong(1))
  }

  test("bruteTopK returns exactly k ranked rows per query, ties broken by id") {
    val s = spark; import s.implicits._
    val corpus = (1L to 20L).map(i => (i, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteTopK(q, "vec_id", "embedding",
      corpus, "vec_id", "embedding", 5).orderBy("rank").collect()
    assert(out.length === 5)
    // all sims equal → neighbour ids 1..5 in rank order
    assert(out.map(_.getAs[Long]("neighbour_id")).toSeq === (1L to 5L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to 5))
  }

  test("native DotScaled equals the HOF formulation element for element") {
    val s = spark; import s.implicits._
    val rows = (1L to 200L).map { i =>
      (i, (0 until 64).map(d => (((i * 31 + d * 17) % 2001) - 1000) * 0.001f),
        (0 until 64).map(d => (((i * 13 + d * 7) % 2001) - 1000) * 0.001f))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), Similarity.scaledVec(col("a")).as("sa"),
        Similarity.scaledVec(col("b")).as("sb"))
    val hof = aggregate(zip_with(col("sa"), col("sb"),
      (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val diff = df
      .select(Similarity.dotScaled(col("sa"), col("sb")).as("native"),
        hof.as("ref"))
      .filter(col("native") =!= col("ref")).count()
    assert(diff == 0L)
  }

  test("DotScaled fails loud on ragged dimensions instead of " +
    "truncating to a plausible partial dot") {
    val s = spark; import s.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(Similarity.dotScaled(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("dimension mismatch"))), e.toString)
  }

  test("semanticDedup: earliest cell-mate above threshold survives, " +
    "later ones drop, per cell") {
    val s = spark; import s.implicits._
    // 2-d unit-ish vectors; centroids = first 2 rows (x-axis, y-axis).
    // ids 10/11 are near-identical x-ish vectors (same cell as id 0);
    // id 12 is y-ish (other cell), nearly parallel to nothing there.
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f)),
      (10L, Seq(0.9999f, 0.0141f)),
      (11L, Seq(0.9998f, 0.0200f)),
      (12L, Seq(0.0141f, 0.9999f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      numCentroids = 2, thresholdScaled = 950000000000L)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2)))
      .toMap
    assert(out(0L)._2 == 1)              // earliest in its cell: kept
    assert(out(10L)._2 == 0)             // dominated by id 0 (cos≈1)
    assert(out(11L)._2 == 0)             // dominated by 0 and 10
    assert(out(1L)._2 == 1 && out(12L)._2 == 0) // y-cell: 12 ~ 1
    // cells: x-ish together, y-ish together
    assert(out(0L)._1 == out(10L)._1 && out(10L)._1 == out(11L)._1)
    assert(out(1L)._1 == out(12L)._1)
    assert(out(0L)._1 != out(1L)._1)
  }

  test("PQ primitives: L2 tie-break, LUT indexing, ADC vs hand math") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    def nested(xss: Seq[Seq[Long]]) =
      new GenericArrayData(xss.map(x => arr(x: _*)).toArray)
    // equidistant centroids: ties resolve to the LOWEST index
    val cents = nested(Seq(Seq(2L, 0L), Seq(0L, 2L), Seq(1L, 1L)))
    assert(graft.functions.NearestCentroidL2.compute(
      arr(1L, 1L), cents) == 2)     // exact hit wins: dists 2, 2, 0
    // a TRUE tie: (2,2) is at 4 from both (2,0) and (0,2) → lowest idx
    assert(graft.functions.NearestCentroidL2.compute(
      arr(2L, 2L), nested(Seq(Seq(2L, 0L), Seq(0L, 2L)))) == 0)
    // negative components: (1,-1) → (1,1) dist 4, (1,-3) dist 4 → 0
    assert(graft.functions.NearestCentroidL2.compute(
      arr(1L, -1L), nested(Seq(Seq(1L, 1L), Seq(1L, -3L)))) == 0)
    // LUT layout: lut[s*k + j] = dot(q_sub_s, books[s][j])
    val books = new GenericArrayData(Array(
      nested(Seq(Seq(1L, 0L), Seq(0L, 1L))),   // sub 0, k=2
      nested(Seq(Seq(2L, 2L), Seq(5L, 0L))))) // sub 1
    val lut = graft.functions.PqLut.compute(arr(3L, 4L, 10L, 1L), books)
    assert(lut.toLongArray().toSeq == Seq(3L, 4L, 22L, 50L))
    // ADC sums one entry per sub-space at offset s*k + code
    assert(graft.functions.PqAdc.compute(lut, new GenericArrayData(
      Array(1, 0))) == 4L + 22L)
    // dimension mismatch and out-of-range codes are loud, not garbage
    intercept[IllegalArgumentException] {
      graft.functions.PqLut.compute(arr(1L, 2L, 3L), books)
    }
    intercept[IllegalArgumentException] {
      graft.functions.PqAdc.compute(lut, new GenericArrayData(Array(2, 0)))
    }
  }

  test("PQ on a code-aligned corpus is EXACT: ADC == brute-force dots") {
    // every sub-vector is one of k=2 patterns → Lloyd converges to the
    // patterns themselves, reconstruction is lossless, and ADC scores
    // must equal the exact scaled dot products rank for rank
    val s = spark; import s.implicits._
    val pats = Seq(Seq(0.6f, 0.8f), Seq(-0.8f, 0.6f))
    val corpus = (0L until 16L).map { i =>
      // 2 sub-spaces of dim 2; pattern choice varies by id bits
      val v = pats((i % 2).toInt) ++ pats(((i / 2) % 2).toInt)
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val pq = Similarity.pqTopK(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding", m = 2, k = 2, iters = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbour_id"),
        r.getAs[Long]("sim_scaled"), r.getAs[Int]("rank"))).toSet
    val brute = Similarity.bruteTopK(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbour_id"),
        r.getAs[Long]("sim_scaled"), r.getAs[Int]("rank"))).toSet
    assert(pq == brute)
  }

  test("PQ codebook: empty cells carry forward; means are Math.round") {
    val s = spark; import s.implicits._
    // k=3 seeds but only 2 distinct values → one centroid's cell
    // empties after assignment and must keep its seed unchanged
    val corpus = Seq(
      (0L, Seq(0.0f)), (1L, Seq(0.0f)), (2L, Seq(1.0f)),
      (3L, Seq(1.0f)), (4L, Seq(0.0f))
    ).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 1, k = 3, iters = 1)
    // seeds: ids 0,1,2 → [0], [0], [1000000]. assignment: value 0 →
    // centroid 0 (tie 0 vs 1 → lowest), value 1e6 → centroid 2;
    // cell 1 empties and carries its seed
    assert(books == Seq(Seq(Seq(0L), Seq(0L), Seq(1000000L))))
    // mean rounding is floor(x + 0.5): two members 0 and 1e6 → 500000
    val corpus2 = Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val books2 = Similarity.pqCodebooks(corpus2, "vec_id", "embedding",
      m = 1, k = 1, iters = 1)
    assert(books2 == Seq(Seq(Seq(500000L))))
  }

  test("IVF-PQ with every cell probed equals plain PQ; probing prunes") {
    val emb = Tables.embeddings(spark, TinySf)
    val queries = emb.filter(expr("vec_id % 100 = 3"))
    def run(nProbe: Int) = Similarity.ivfPqTopK(
      queries, "vec_id", "embedding", emb, "vec_id", "embedding",
      numCentroids = 8, nProbe = nProbe, m = 8, k = 16, iters = 1,
      topK = K)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbour_id"),
        r.getAs[Long]("sim_scaled"), r.getAs[Int]("rank"))).toSet
    val pq = Similarity.pqTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 1, topK = K)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbour_id"),
        r.getAs[Long]("sim_scaled"), r.getAs[Int]("rank"))).toSet
    // probing ALL cells = no candidate restriction: identical output
    assert(run(8) == pq)
    // probing a strict subset really does restrict candidates: some
    // query must rank differently (the corpus has > k rows per cell)
    assert(run(2) != pq)
  }

  test("PQ books round-trip through versioned artifacts") {
    val s = spark; import s.implicits._
    val corpus = Seq((0L, Seq(0.1f, 0.2f, 0.3f, 0.4f)),
      (1L, Seq(-0.5f, 0.6f, -0.7f, 0.8f))).toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 2, k = 2, iters = 1)
    val root = graft.TempRoots.create("graft_pqbooks")
    // the newest committed version, read back in pqEncode's shape
    def latest(): Seq[Seq[Seq[Long]]] =
      spark.read.parquet(s"$root/${Similarity.listPqBooks(spark, root).last}")
        .orderBy("sub", "cent_idx").collect().toIndexedSeq
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getSeq[Long](2).toIndexedSeq).toIndexedSeq)
    Similarity.savePqBooks(spark, books, root, "v1")
    assert(latest() == books)
    // a newer version wins; nothing trained lists no version
    val books2 = books.map(_.map(_.map(_ + 1L)))
    Similarity.savePqBooks(spark, books2, root, "v2")
    assert(latest() == books2)
    assert(Similarity.listPqBooks(spark, root).size == 2)
    assert(Similarity.listPqBooks(spark,
      graft.TempRoots.create("graft_pqnone")).isEmpty)
  }

  test("OPQ permutation: exact variance ranking, round-robin balance") {
    val s = spark; import s.implicits._
    // per-dim variances by construction: dim0 (0..3 cycle) > dim1
    // (0/2 alternating) > dim2 (tiny jitter) > dim3 (constant)
    val corpus = (0L until 8L).map { i =>
      (i, Seq((i % 4).toFloat, ((i / 2) % 2).toFloat * 2f,
        0.01f * (i % 2), 0f))
    }.toDF("vec_id", "embedding")
    val perm = Similarity.opqPermutation(corpus, "embedding", m = 2)
    // a permutation IS an orthogonal rotation: must be a bijection
    assert(perm.sorted == Seq(0, 1, 2, 3))
    // variance ranks 0,1,2,3 = dims 0,1,2,3; round-robin dealing puts
    // rank r at sub-space r % m, slot r / m → [0, 2, 1, 3]: the two
    // high-variance dims land in DIFFERENT sub-spaces
    assert(perm == Seq(0, 2, 1, 3))
    // applying it is a pure gather
    val rotated = corpus.select(
      Similarity.opqPermute(col("embedding"), perm).as("r"))
      .collect().map(_.getSeq[Float](0))
    assert(rotated.head == Seq(0f, 0f, 0f, 0f))
    assert(rotated(3) == Seq(3f, 0.01f, 2f, 0f)) // row 3: gather [0,2,1,3]
  }

  test("OPQ lifts PQ recall strictly on a variance-skewed corpus") {
    // the q_ann_opq_topk fixture at spec scale: dims 1..8 carry the
    // ranking signal (×4), natural order packs them ALL into
    // sub-space 0 of the m=8 split — the structured-variance failure
    // mode the learned permutation exists to fix
    val emb = Tables.embeddings(spark, TinySf)
    val skewed = emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * when(i < 8, lit(4.0)).otherwise(lit(0.25)))
        .as("embedding"))
    val queries = skewed.filter(expr("vec_id % 100 = 3"))
    val exact = neighbourSets(Similarity.bruteTopK(queries, "vec_id",
      "embedding", skewed, "vec_id", "embedding", K))
    def recall(ann: Map[Long, Set[Long]]) = exact.map { case (q, ex) =>
      ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }.sum / exact.size
    val pq = recall(neighbourSets(Similarity.pqTopK(queries, "vec_id",
      "embedding", skewed, "vec_id", "embedding", 8, 16, 2, K)))
    val opq = recall(neighbourSets(Similarity.opqPqTopK(queries, "vec_id",
      "embedding", skewed, "vec_id", "embedding", 8, 16, 2, K)))
    info(f"mean recall@$K: pq=$pq%.3f opq=$opq%.3f")
    assert(opq > pq, f"rotation must lift recall: pq=$pq%.3f opq=$opq%.3f")
    assert(opq >= 0.7, f"rotated recall floor: $opq%.3f") // measured 0.86
    // the composed index: rotation lifts IVF-PQ the same way (the
    // IVF half is permutation-invariant, so the gain is pure PQ fit)
    val ivfpq = recall(neighbourSets(Similarity.ivfPqTopK(queries,
      "vec_id", "embedding", skewed, "vec_id", "embedding",
      16, 16, 8, 16, 2, K))) // probe ALL cells: isolate the PQ half
    val opqIvfpq = recall(neighbourSets(Similarity.opqIvfPqTopK(queries,
      "vec_id", "embedding", skewed, "vec_id", "embedding",
      16, 16, 8, 16, 2, K)))
    info(f"mean recall@$K: ivfpq=$ivfpq%.3f opq_ivfpq=$opqIvfpq%.3f")
    assert(opqIvfpq > ivfpq,
      f"rotation must lift the composed index: $ivfpq%.3f -> $opqIvfpq%.3f")
  }

  test("PQ recall on structured embeddings beats the uniform floor") {
    // the harness corpus is uniform (adversarial for every ANN here);
    // on STRUCTURED vectors — each a noisy copy of one of 4 anchors —
    // PQ must put every query's true cluster-mates in its top-k
    val s = spark; import s.implicits._
    val anchors = Seq(
      Seq(1.0f, 0f, 0f, 0f), Seq(0f, 1.0f, 0f, 0f),
      Seq(0f, 0f, 1.0f, 0f), Seq(0f, 0f, 0f, 1.0f))
    val corpus = (0L until 40L).map { i =>
      val a = anchors((i % 4).toInt)
      (i, a.zipWithIndex.map { case (x, d) =>
        x + 0.02f * (((i + d) % 5).toInt - 2) }) // deterministic jitter
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val pq = neighbourSets(Similarity.pqTopK(
      queries, "vec_id", "embedding", corpus, "vec_id", "embedding",
      m = 2, k = 4, iters = 3, topK = 10))
    (0L until 4L).foreach { q =>
      val mates = (0L until 40L).filter(_ % 4 == q % 4).toSet
      val hit = pq(q).count(mates.contains)
      assert(hit == 10,
        s"query $q: only $hit/10 of its cluster in PQ top-10")
    }
  }
}
