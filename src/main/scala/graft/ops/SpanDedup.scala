package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sub-document exact-substring deduplication — the "dedup the spans,
  * not the documents" training-data step (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"): any
  * exact k-token span that occurs two or more times ANYWHERE in the
  * corpus (across documents or within one) is removed from every
  * document, with overlapping duplicated windows merged into maximal
  * spans first so the removal is well-defined. This is a different
  * axis from [[LineDedup]] (fixed non-overlapping segments scored by
  * document frequency) and [[Contamination]] (corpus vs a benchmark
  * set): here the unit is every ROLLING k-gram and the criterion is
  * global occurrence count.
  *
  * Scale shape at 100 TB (suffix arrays are the single-machine tool;
  * this is the shuffle-native equivalent):
  *  - ONE narrow explode emits (doc_id, pos, fingerprint) — the
  *    fingerprint is xxhash64 of the span text, so the duplicate
  *    count shuffles 8-byte longs, never span bodies. The count is
  *    map-side combinable; a span repeated a million times costs one
  *    partial per input partition, not a collected group.
  *  - the duplicated-fingerprint set is then a LEFT SEMI join back on
  *    the long key — AQE broadcasts it when small, shuffled-hash
  *    otherwise; no row explosion either way.
  *  - interval merge + reassembly are per-document windows/aggregates
  *    (documents are bounded; corpora are not), one exchange on
  *    doc_id reused by the window, the island aggregate, AND the
  *    final join (hash partitioning on doc_id satisfies all three).
  *
  * Fingerprint honesty: the engine counts 64-bit fingerprints where
  * the oracle counts exact strings, so a hash collision would surface
  * as a gate failure — the oracle doubles as a collision detector
  * (expected false-duplicate count at n spans is n^2/2^65; at 10^12
  * spans switch the fingerprint to a 128-bit pair, same plan).
  */
object SpanDedup {

  /** (idCol, pos, h): xxhash64 fingerprint of every rolling k-token
    * span. Docs with fewer than k tokens emit nothing. */
  def spanHashes(docs: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"span width must be >= 2, got $k")
    docs
      .select(col(idCol), split(col(textCol), " ").as("tk"))
      .where(size(col("tk")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("tk")) - k),
          i => xxhash64(array_join(slice(col("tk"), i + 1, lit(k)), " "))))
        .as(Seq("pos", "h")))
  }

  /** Duplicated-span occurrences EXCEPT the canonical first one —
    * the keep-one-copy policy (dedup leaves each span in the corpus
    * exactly once; removing all copies would delete content no
    * document retains). Canonical = global min (doc_id, pos) per
    * fingerprint: deterministic, slicing-independent. One exchange
    * on the fingerprint; the rank window streams each hash group. */
  def duplicateOccurrences(spans: DataFrame,
                           idCol: String): DataFrame = {
    val byHash = Window.partitionBy("h")
      .orderBy(col(idCol), col("pos"))
    spans
      .withColumn("rk", row_number().over(byHash))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("n") >= 2 && col("rk") >= 2)
      .select(col(idCol), col("pos"))
  }

  /** Remove every duplicated k-token span from every document.
    * Returns one row per input document:
    * (idCol, n_tokens, n_spans, n_removed, clean_md5) where n_spans
    * is the number of MERGED maximal removed intervals and clean_md5
    * fingerprints the surviving text (kept tokens joined by single
    * spaces — the same round-trip contract as the corpus
    * tokenization). Documents with no duplicated span pass through
    * with n_spans = n_removed = 0 and clean_md5 = md5(text). */
  def scrub(docs: DataFrame, idCol: String, textCol: String,
            k: Int): DataFrame = {
    val spans = spanHashes(docs, idCol, textCol, k)
    // corpus-wide count as a window over the one explode (the
    // [[duplicateOccurrences]] shape) instead of groupBy + semi-join
    // back: the join spelled the split/hash explode TWICE — once per
    // side — and the explode is the operator's dominant per-row cost.
    // Same (id, pos) multiset: count(*) over h ≥ 2 ≡ semi-join against
    // having count(*) ≥ 2.
    val hits = spans
      .withColumn("n", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("n") >= 2)
      .select(col(idCol), col("pos"))
    removeAt(docs, idCol, textCol, k, hits)
  }

  /** [[scrub]] under the keep-one-copy policy: the canonical first
    * occurrence of each duplicated span survives (unless another
    * duplicated window overlapping it is itself removed); every
    * later occurrence goes. */
  def scrubKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val spans = spanHashes(docs, idCol, textCol, k)
    removeAt(docs, idCol, textCol, k,
      duplicateOccurrences(spans, idCol))
  }

  // Incremental posture (the [[LineDedup]] store contract): the
  // caller owns batch-id assignment, doc ids are disjoint across
  // batches and each doc arrives in exactly one batch — per-batch
  // occurrence counts then sum to corpus-wide span counts exactly.

  /** Append a batch's per-fingerprint occurrence counts to the
    * store: profile-sized (h, n_occ) rows, never span text. */
  def updateSpanStore(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, path: String, batchId: Long): Unit = {
    val profile = spanHashes(docs, idCol, textCol, k)
      .groupBy("h").agg(count(lit(1)).as("n_occ"))
      .withColumn("batch_id", lit(batchId))
    profile.write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    Partitioned.anchorSchema(profile, path)
  }

  def readSpanStore(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental scrub: clean a NEW batch against corpus-wide span
    * counts = stored history + the batch's own, without re-hashing
    * one byte of history text. A span is duplicated when its total
    * count across history and batch reaches 2 — the same global
    * criterion [[scrub]] applies to the union corpus, so per-batch
    * outputs agree exactly with the one-shot scrub restricted to the
    * batch's documents (gate-pinned). */
  def incrementalScrub(store: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       k: Int): DataFrame = {
    val spans = spanHashes(batch, idCol, textCol, k)
    // one explode: the batch's own count rides a window over it (the
    // [[scrub]] shape) and history counts attach as a LEFT join of the
    // profile-sized store aggregate — the old groupBy + full_outer +
    // semi-join re-exploded the batch for its count side.
    val nHist = store.groupBy("h").agg(sum(col("n_occ")).as("_nh"))
    val hits = spans
      .withColumn("_nb", count(lit(1)).over(Window.partitionBy("h")))
      .join(nHist, Seq("h"), "left")
      .filter(col("_nb") + coalesce(col("_nh"), lit(0L)) >= 2)
      .select(col(idCol), col("pos"))
    removeAt(batch, idCol, textCol, k, hits)
  }

  /** Shared removal tail: merge hit windows [pos, pos+k) into maximal
    * islands per doc, drop the covered tokens, digest survivors. */
  private def removeAt(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, hits: DataFrame): DataFrame = {
    // Merge overlapping/adjacent [pos, pos+k) windows into maximal
    // islands: a window opens an island iff it starts past the
    // running max end of everything before it.
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val before = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val merged = hits
      .withColumn("brk",
        when(col("pos") > coalesce(max(col("pos") + k).over(before),
          lit(-1L)), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min("pos").as("s"), (max(col("pos")) + k).as("e"))

    // Islands per doc are bounded by the doc's token count — the
    // collect_list is doc-sized, never corpus-sized.
    val ivals = merged.groupBy(idCol).agg(
      collect_list(struct(col("s"), col("e"))).as("ivals"),
      count(lit(1)).as("n_spans"))

    val kept = filter(col("tk"), (_, i) =>
      !exists(col("ivals"), v => i >= v("s") && i < v("e")))
    docs
      .select(col(idCol), split(col(textCol), " ").as("tk"))
      .join(ivals, Seq(idCol), "left")
      .withColumn("ivals",
        coalesce(col("ivals"),
          array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(
        col(idCol),
        size(col("tk")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (size(col("tk")) - size(kept)).cast("long").as("n_removed"),
        md5(encode(array_join(kept, " "), "UTF-8")).as("clean_md5"))
  }
}
