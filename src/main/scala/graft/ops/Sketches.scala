package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches for monitoring at 100 TB — the
  * exact `COUNT(DISTINCT)` family (A5, the layer-consistency checks)
  * stops being runnable as one query when the key set itself is
  * billions: exact distinct shuffles every distinct value. The
  * HLL sketch (Spark ships the Apache DataSketches HllSketch binary
  * under `hll_sketch_agg`/`hll_union_agg`) replaces that with a
  * fixed-size state per group that is:
  *
  *  - **mergeable**: sketch(slice A) ∪ sketch(slice B) ≡ sketch(A∪B)
  *    — so per-partition / per-day / per-file sketches can be stored
  *    as small binary columns and rolled up later without rescanning
  *    (the monitoring pattern: every ingest batch persists its
  *    profile, the dashboard unions months of them in milliseconds);
  *  - **bounded-error**: relative standard error ≈ 1.04/√(2^lgK)
  *    (~1.6 % at the default lgK=12), enforced against exact counts
  *    in SketchSpec and in the oracle-gated q_sketch_distinct.
  *
  * Caveat that shapes the verification contract: the estimate is NOT
  * bit-stable across partitionings — DataSketches' sparse→HLL mode
  * promotion depends on the order values arrive, so repartitioning
  * or merging slices shifts the estimate a few counts (inside the
  * error bound; measured ±0.6 % in SketchSpec). That is why the
  * oracle gate compares an error VERDICT against the exact count,
  * never the raw estimate.
  */
object Sketches {

  val DefaultLgK = 12

  /** Distinct-count estimate from a sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  // ---- Mergeable quantile profiles (fixed-bin histograms) ----
  //
  // percentile_approx answers one query but its state is not
  // storable, so quantile MONITORING at 100 TB would rescan history
  // every dashboard refresh. A fixed-bin histogram is the mergeable
  // twin: per-batch profiles are (group, bin, n) rows — bounded by
  // domain/binWidth regardless of row count — merging is summing
  // counts (exactly associative, unlike HLL's bit-unstable merge),
  // and any quantile read off the merged histogram is RANK-exact at
  // bin granularity (value error ≤ binWidth). Binning is
  // floor(value / binWidth): one IEEE double division + floor,
  // bit-identical across engines — deliberately NOT width_bucket,
  // whose lo/hi/bucket-count boundary arithmetic differs between
  // implementations right where cent-valued prices sit.

  /** Per-group fixed-bin histogram of `of` — the storable/mergeable
    * quantile profile artifact. Null measurements are EXCLUDED: a
    * null carries no rank, and a null bin would otherwise inflate
    * [[quantileBin]]'s totals while sorting before every real bin,
    * skewing every quantile low. */
  def histogramProfile(df: DataFrame, groupCols: Seq[String], of: String,
                       binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    df.filter(col(of).isNotNull)
      .groupBy((groupCols.map(col) :+
        floor(col(of) / binWidth).cast("long").as("bin")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Roll up stored histogram profiles (same group columns, same
    * binWidth family) — counts sum exactly; no raw-data rescan. */
  def mergeHistograms(profiles: DataFrame,
                      groupCols: Seq[String]): DataFrame =
    profiles.groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(sum(col("n")).as("n"))

  /** The bin containing the q-quantile, per group: the smallest bin
    * whose running count reaches ceil(q × total). Rank-exact — the
    * true quantile value lies in [bin·w, (bin+1)·w). */
  def quantileBin(hist: DataFrame, groupCols: Seq[String],
                  q: Double, as: String): DataFrame = {
    require(q > 0 && q <= 1, s"quantile must be in (0, 1]: $q")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bin"))
    val tot = Window.partitionBy(groupCols.map(col): _*)
    hist
      .withColumn("_cum", sum(col("n")).over(w))
      .withColumn("_tot", sum(col("n")).over(tot))
      .filter(col("_cum") >= ceil(col("_tot") * lit(q)))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("bin")).as(as))
  }

  // ---- Mergeable Count–Min frequency profiles ----
  //
  // Per-item frequency MONITORING (heavy hitters, hot-key detection,
  // vocabulary drift) at 100 TB: exact per-item counts over a
  // billions-cardinality domain shuffle every distinct item; the
  // Count–Min sketch replaces that with depth × width cells total.
  // Represented relationally as (d, bucket, n) rows — the same
  // storable shape as the histogram profile — so merging stored
  // profiles is summing cells (exactly associative, unlike HLL's
  // bit-unstable union), and every piece is plain codegen'd
  // expressions: no UDF, no binary blob, no driver round-trip.
  //
  // The bucket hash is the first 4 hex chars of md5(value ':' row)
  // (the repo-wide cross-engine convention — see Sampling's scaladoc):
  // md5 emits identical lowercase hex in Spark and DuckDB, so a
  // different engine can rebuild the IDENTICAL sketch and the oracle
  // contract is exact cell/estimate parity — stronger than the HLL
  // error-bound verdict.
  //
  // est(v) = min over rows d of cell[d][h_d(v)]. Structurally
  // est ≥ true(v) always (every occurrence of v lands in its cell);
  // est ≤ true(v) + e·N/width with probability 1 − e^(−depth) per
  // item (the classic CMS bound). Width is capped at 65536 (= 16^4,
  // the 4-hex-digit bucket space).

  val CmsDepth = 3

  /** The depth-d bucket of a value — pure per-row expressions, the
    * identical arithmetic the DuckDB mirror [[cmsBucketSql]] runs. */
  def cmsBucket(v: Column, d: Column, width: Int): Column =
    pmod(conv(substring(
      md5(concat(v.cast("string"), lit(":"), d.cast("string"))),
      1, 4), 16, 10).cast("int"), lit(width))

  /** DuckDB mirror of [[cmsBucket]]. */
  def cmsBucketSql(vExpr: String, dExpr: String, width: Int): String =
    s"CAST(('0x' || substr(md5(CAST($vExpr AS VARCHAR) || ':' || " +
      s"CAST($dExpr AS VARCHAR)), 1, 4)) AS INT) % $width"

  private def depthRows(depth: Int): Column =
    explode(array((0 until depth).map(lit): _*))

  /** CMS profile of `of` as (d, bucket, n) rows — the storable/
    * mergeable frequency artifact, bounded by depth×width regardless
    * of row count. Null values are excluded (a null carries no
    * frequency). The explode costs depth× rows BEFORE the exchange,
    * but map-side combine collapses each partition to ≤ depth×width
    * cells, so the shuffle is sketch-sized, not data-sized. */
  def cmsProfile(df: DataFrame, of: String,
                 depth: Int = CmsDepth, width: Int): DataFrame = {
    require(depth > 0, s"depth must be positive: $depth")
    require(width > 0 && width <= 65536,
      s"width must be in [1, 65536]: $width")
    df.filter(col(of).isNotNull)
      .select(col(of).as("_v"), depthRows(depth).as("d"))
      .groupBy(col("d"), cmsBucket(col("_v"), col("d"), width).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Roll up stored CMS profiles (same depth/width family) — cells
    * sum exactly; no raw-data rescan. */
  def mergeCms(profiles: DataFrame): DataFrame =
    profiles.groupBy(col("d"), col("bucket"))
      .agg(sum(col("n")).as("n"))

  // ---- Mergeable Bloom membership profiles ----
  //
  // Set-membership MONITORING ("was this id ever ingested?", "is this
  // fingerprint in the blocklist?") completes the mergeable-profile
  // family: HLL answers how-many-distinct, CMS how-often, histograms
  // where-in-the-distribution, Bloom is-it-present. Represented as
  // DISTINCT (d, bucket) rows — a set bit is a row — so merging
  // stored profiles is a distinct union (exactly idempotent and
  // associative, the same storable-relational shape as the rest of
  // the family) and the same md5 bucket arithmetic as the CMS gives
  // cross-engine bit-for-bit parity: the oracle rebuilds the
  // IDENTICAL filter and the membership verdicts compare exactly.
  //
  // Contract: NO false negatives ever (every present value set its
  // `depth` bits); false positives at the classic (1−e^(−n/w))^depth
  // rate. Bits are ≤ depth × width rows regardless of row count —
  // the filter broadcasts, so probing a billion candidates is a
  // map-side join, same shape as [[cmsEstimate]].

  /** Bloom profile of `of` as distinct set-bit rows (d, bucket).
    * Nulls carry no membership and are excluded. The distinct is a
    * map-side-combinable exchange bounded by depth×width cells. */
  def bloomProfile(df: DataFrame, of: String, width: Int,
                   depth: Int = CmsDepth): DataFrame = {
    require(depth > 0, s"depth must be positive: $depth")
    require(width > 0 && width <= 65536,
      s"width must be in [1, 65536]: $width")
    df.filter(col(of).isNotNull)
      .select(col(of).as("_v"), depthRows(depth).as("d"))
      .select(col("d"), cmsBucket(col("_v"), col("d"), width).as("bucket"))
      .distinct()
  }

  /** Roll up stored Bloom profiles (same depth/width family): set
    * bits union — distinct rows. Idempotent, so re-merging a profile
    * already folded in changes nothing. */
  def mergeBloom(profiles: DataFrame): DataFrame =
    profiles.select(col("d"), col("bucket")).distinct()

  /** Probe each item row against a filter: `as` = true iff ALL depth
    * bits for the item are set (the no-false-negative membership
    * verdict). The filter is ≤ depth×width rows, so it broadcasts and
    * the probe side never shuffles. */
  def bloomMightContain(items: DataFrame, itemCol: String,
                        bloom: DataFrame, width: Int, as: String,
                        depth: Int = CmsDepth): DataFrame = {
    val itemCols = items.columns.toSeq
    val bits = bloom.select(col("d").as("_bf_d"),
      col("bucket").as("_bf_b"))
    items
      .withColumn("_d", depthRows(depth))
      .withColumn("_b", cmsBucket(col(itemCol), col("_d"), width))
      .join(broadcast(bits),
        col("_d") === col("_bf_d") && col("_b") === col("_bf_b"),
        "left")
      .groupBy(itemCols.map(col): _*)
      .agg((count(col("_bf_d")) === depth).as(as))
  }

  /** Point-estimate each item row's frequency from a sketch: the min
    * over depth rows of the item's cell (absent cell = 0). The sketch
    * is depth×width rows, so it broadcasts; the probe side stays
    * partitioned — estimating a billion candidates is a map-side
    * join. Sketch columns are re-aliased internally, so `items` may
    * carry any non-underscore-prefixed names. */
  def cmsEstimate(items: DataFrame, itemCol: String, cms: DataFrame,
                  width: Int, as: String,
                  depth: Int = CmsDepth): DataFrame = {
    val itemCols = items.columns.toSeq
    val sk = cms.select(col("d").as("_cms_d"),
      col("bucket").as("_cms_b"), col("n").as("_cms_n"))
    items
      .withColumn("_d", depthRows(depth))
      .withColumn("_b", cmsBucket(col(itemCol), col("_d"), width))
      .join(broadcast(sk),
        col("_d") === col("_cms_d") && col("_b") === col("_cms_b"),
        "left")
      .groupBy(itemCols.map(col): _*)
      .agg(min(coalesce(col("_cms_n"), lit(0L))).as(as))
  }
}
