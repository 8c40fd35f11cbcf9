package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketches

/** HLL sketch monitoring: stored sketch profiles must merge into
  * valid sketches (roll-up without rescan) and every estimate —
  * whole-corpus, merged, or oddly partitioned — must stay inside the
  * advertised error bound of the exact count. Estimates are NOT
  * bit-stable across partitionings (mode-promotion order), so the
  * contract tested is the bound, not equality — same contract the
  * oracle-gated q_sketch_distinct encodes as a verdict column.
  */
class SketchSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, TinySf)

  private lazy val exact: Map[String, Long] =
    li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  // per-returnflag HLL sketches of the order key: the storable
  // profile, and its roll-up of stored profiles without a rescan
  private def hllProfile(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("l_returnflag").agg(
      hll_sketch_agg(col("l_orderkey"), lit(Sketches.DefaultLgK)).as("sketch"))
  private def mergeProfiles(profiles: org.apache.spark.sql.DataFrame) =
    profiles.groupBy("l_returnflag")
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  private def ests(profiles: org.apache.spark.sql.DataFrame): Map[String, Long] =
    profiles.select(col("l_returnflag"),
        Sketches.estimate(col("sketch")).as("est")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def assertWithinBound(got: Map[String, Long],
                                label: String): Unit =
    exact.foreach { case (k, n) =>
      val err = math.abs(got(k) - n) / n.toDouble
      assert(err <= 0.05, s"$label group $k: est=${got(k)} exact=$n err=$err")
    }

  test("union of per-slice sketches is a valid roll-up (no rescan)") {
    // four ingest batches sketched independently, merged later
    val slices = (0L to 3L).map(i =>
      hllProfile(li.filter(col("l_orderkey") % 4 === i)))
    val merged = mergeProfiles(slices.reduce(_ unionByName _))
    assertWithinBound(ests(merged), "merged")
    // merged estimate tracks the whole-corpus sketch closely (they
    // differ only by promotion history, well inside the error bound)
    val whole = ests(hllProfile(li))
    ests(merged).foreach { case (k, e) =>
      assert(math.abs(e - whole(k)) / whole(k).toDouble <= 0.02,
        s"merged vs whole drift at $k: $e vs ${whole(k)}")
    }
  }

  test("estimate honors the bound under any partitioning") {
    for (parts <- Seq(1, 13)) {
      val prof = hllProfile(li.repartition(parts))
      assertWithinBound(ests(prof), s"parts=$parts")
    }
  }

  test("histogram profiles merge exactly; quantile bin brackets the true value") {
    import org.apache.spark.sql.functions._
    val W = 500.0
    val cols = Seq("l_returnflag")
    // merged per-slice profiles ≡ the direct whole-data histogram —
    // exact equality, not a bound (counts sum associatively)
    val direct = Sketches.histogramProfile(li, cols, "l_extendedprice", W)
    val slices = (0 to 2).map(i => Sketches.histogramProfile(
      li.filter(pmod(col("l_orderkey"), lit(3)) === i),
      cols, "l_extendedprice", W))
    val merged = Sketches.mergeHistograms(
      slices.reduce(_ unionByName _), cols)
    assert(rowsAsSet(merged) == rowsAsSet(direct))

    // the p50 bin must contain the exact median: bin*W <= median < (bin+1)*W
    val bins = Sketches.quantileBin(merged, cols, 0.5, "p50_bin")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, m) =>
      val b = bins(k)
      // percentile() interpolates between the two middle values; the
      // rank-based bin holds the LOWER middle, so allow the true
      // median to sit at most one bin above the bracket's start
      assert(m >= b * W && m < (b + 2) * W,
        s"median $m outside bins [$b, ${b + 1}] * $W for $k")
    }
  }

  test("null measurements carry no rank: excluded from bins and totals") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // 10 nulls + 1000..10000 step 1000: the median of the VALUES is
    // 5000-6000 (bins 10/11 at W=500); counting nulls toward the rank
    // target would report bin 2 (~1000) — the skew the filter prevents
    val rows = (Seq.fill(10)(Option.empty[Double]) ++
      (1 to 10).map(i => Some(i * 1000.0))).map(("g", _))
    val df = rows.toDF("g", "v")
    val hist = Sketches.histogramProfile(df, Seq("g"), "v", 500.0)
    assert(hist.agg(sum("n")).head().getLong(0) == 10,
      "nulls leaked into the histogram")
    val b = Sketches.quantileBin(hist, Seq("g"), 0.5, "p50_bin")
      .head().getLong(1)
    assert(b == 10, s"null-skewed median bin: $b (expected 10)")
  }

  test("CMS profiles merge cell-exactly; estimates never undercount") {
    val W = 8 // << distinct users at TinySf, so collisions are real
    val ev = Tables.events(spark, TinySf).select("event_id", "user_id")
    val slices = (0 to 3).map(i => Sketches.cmsProfile(
      ev.filter(pmod(col("event_id"), lit(4)) === i),
      "user_id", width = W))
    val merged = Sketches.mergeCms(slices.reduce(_ unionByName _))
    val direct = Sketches.cmsProfile(ev, "user_id", width = W)
    // counts sum associatively: merged slices ≡ one pass, cell for cell
    assert(rowsAsSet(merged) == rowsAsSet(direct),
      "merged CMS cells differ from the direct sketch")
    val n = ev.count()
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val rows = Sketches.cmsEstimate(exact, "user_id", merged, W, "est")
      .collect()
    rows.foreach { r =>
      val (cnt, est) = (r.getAs[Long]("cnt"), r.getAs[Long]("est"))
      assert(est >= cnt, s"CMS undercounted ${r.get(0)}: $est < $cnt")
      assert(est <= n, s"CMS cell exceeds total mass: $est > $n")
    }
    // width 8 forces collisions — at least one estimate must overcount,
    // or the test is vacuously passing on a too-wide sketch
    assert(rows.exists(r => r.getAs[Long]("est") > r.getAs[Long]("cnt")),
      "no collisions at width 8 — sketch not exercised")
  }

  test("Bloom: merged slices ≡ direct filter; never a false negative") {
    val W = 64
    val ev = Tables.events(spark, TinySf).select("event_id", "user_id")
    val slices = (0 to 3).map(i => Sketches.bloomProfile(
      ev.filter(pmod(col("event_id"), lit(4)) === i),
      "user_id", width = W))
    val merged = Sketches.mergeBloom(slices.reduce(_ unionByName _))
    val direct = Sketches.bloomProfile(ev, "user_id", width = W)
    // set-bit union is exactly the one-pass filter, bit for bit —
    // and re-merging the merge changes nothing (idempotent)
    assert(rowsAsSet(merged) == rowsAsSet(direct),
      "merged Bloom bits differ from the direct filter")
    assert(rowsAsSet(Sketches.mergeBloom(merged.unionByName(merged)))
      == rowsAsSet(direct), "Bloom merge is not idempotent")
    val present = ev.select(col("user_id")).distinct()
    val misses = Sketches.bloomMightContain(
      present, "user_id", merged, W, "hit")
      .filter(!col("hit")).count()
    assert(misses == 0, s"Bloom false-negatived $misses present keys")
  }

  test("Bloom: false positives exist at small width (filter exercised)") {
    val W = 16 // TinySf has only 15 distinct users — pack the filter
    val ev = Tables.events(spark, TinySf).select("event_id", "user_id")
    val bloom = Sketches.bloomProfile(ev, "user_id", width = W)
    // 1000 absent probes (event ids shifted far past any user id):
    // at ~60% fill the all-3-bits-set FP rate is ~20%, so a zero FP
    // count would mean the probe path is broken, not bad luck
    val absent = ev
      .select((col("event_id") + 10000000L).as("user_id")).distinct()
    val fps = Sketches.bloomMightContain(
      absent, "user_id", bloom, W, "hit")
      .filter(col("hit")).count()
    assert(fps > 0,
      "no false positives at width 16 over 1000 absent probes")
  }

  test("plan contract: sketch probes broadcast — no sort-merge join") {
    // the 100 TB claim for both probe ops is "the filter/sketch
    // broadcasts, the candidate side never shuffles for the join";
    // a silent fallback to SortMergeJoin would shuffle a billion
    // probes on the join key
    val W = 64
    val ev = Tables.events(spark, TinySf).select("event_id", "user_id")
    val items = ev.select(col("user_id")).distinct()
    val probes = Seq(
      Sketches.cmsEstimate(items, "user_id",
        Sketches.cmsProfile(ev, "user_id", width = W), W, "est"),
      Sketches.bloomMightContain(items, "user_id",
        Sketches.bloomProfile(ev, "user_id", width = W), W, "hit"))
    probes.foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("BroadcastHashJoin"),
        s"probe join is not broadcast:\n${plan.take(2000)}")
      assert(!plan.contains("SortMergeJoin"),
        s"probe join fell back to sort-merge:\n${plan.take(2000)}")
    }
  }

  test("CMS estimate is partitioning-invariant (pure hash structure)") {
    val W = 8
    val ev = Tables.events(spark, TinySf).select("event_id", "user_id")
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val a = Sketches.cmsEstimate(exact,
      "user_id", Sketches.cmsProfile(ev, "user_id", width = W), W, "est")
    val b = Sketches.cmsEstimate(exact,
      "user_id", Sketches.cmsProfile(ev.repartition(13), "user_id",
        width = W), W, "est")
    assert(rowsAsSet(a) == rowsAsSet(b),
      "CMS estimates drifted under repartitioning")
  }
}
