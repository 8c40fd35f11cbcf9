package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Upsert family — SURVEY.md §2.3 J3/J4/J5, §7.4.
  *
  * Plain Parquet has no MERGE, so upserts are read-modify-overwrite.
  * The merge itself is a single full-outer join on the natural key —
  * one shuffle on the key at any scale (or broadcast when the delta is
  * small, the common incremental case: hint the delta side upstream).
  *
  * The subtle reference semantics (dags/SQL/Bronze/
  * insert_data_into_bronze.sql:60-77): `ON CONFLICT DO UPDATE` names
  * only SOME columns — on a key conflict the named columns take the
  * incoming value, every other column KEEPS the existing row's value;
  * brand-new keys take all incoming values. A naive overwrite merge is
  * wrong.
  */
object Upsert {

  /** Full-outer partial-column merge (J3).
    *
    * @param updateOnConflict columns refreshed from `incoming` on a key
    *        conflict; all other non-key columns keep `existing` values.
    * @param conflictOverrides extra per-column expressions applied only
    *        on conflict (reference sets record_type='updated' there).
    *        Expressions may reference the `_i_<col>` (incoming) and
    *        `_e_<col>` (existing) prefixed inputs.
    */
  def merge(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      updateOnConflict: Seq[String],
      conflictOverrides: Map[String, Column] = Map.empty): DataFrame = {
    require(existing.columns.sameElements(incoming.columns),
      "merge requires identical schemas (conform first)")
    val outCols = existing.columns.toIndexedSeq

    val e = existing.select(outCols.map(c => col(c).as(s"_e_$c")): _*)
      .withColumn("__graft_e", lit(true))
    val i = incoming.select(outCols.map(c => col(c).as(s"_i_$c")): _*)
      .withColumn("__graft_i", lit(true))
    // null-safe key equality: NULL natural keys merge with NULL, like
    // a unique index treats them per the engine-native mode (§7.4).
    val cond = keys.map(k => col(s"_e_$k") <=> col(s"_i_$k")).reduce(_ && _)
    val conflict = col("__graft_e").isNotNull && col("__graft_i").isNotNull

    e.join(i, cond, "full_outer").select(outCols.map { c =>
      val base =
        if (keys.contains(c)) coalesce(col(s"_i_$c"), col(s"_e_$c"))
        else if (updateOnConflict.contains(c))
          when(col("__graft_i").isNotNull, col(s"_i_$c"))
            .otherwise(col(s"_e_$c"))
        else
          when(col("__graft_e").isNotNull, col(s"_e_$c"))
            .otherwise(col(s"_i_$c"))
      conflictOverrides.get(c) match {
        case Some(ov) => when(conflict, ov).otherwise(base).as(c)
        case None     => base.as(c)
      }
    }: _*)
  }

  /** Delete+insert upsert (J4, reference transactional reprocessing:
    * dags/Reprocessing.py:113-126): rows whose key appears in `fixed`
    * are replaced wholesale, fresh keys appended. Null-safe on the
    * keys, same discipline as [[merge]] — a plain-equality anti-join
    * would keep a NULL-key target row AND append its fix. */
  def replaceByKey(target: DataFrame, fixed: DataFrame, keys: Seq[String]): DataFrame = {
    val keySet = fixed.select(keys.map(k => col(k).as(s"_f_$k")): _*).distinct()
    target.join(keySet,
        keys.map(k => col(k) <=> col(s"_f_$k")).reduce(_ && _), "left_anti")
      .unionByName(fixed)
  }

  /** Ledger upsert (J5): every column refreshed on conflict. */
  def upsertAll(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    merge(existing, incoming, keys,
      existing.columns.filterNot(keys.contains).toIndexedSeq)

  /** Restore a layer whose previous [[atomicOverwrite]] crashed inside
    * its two-rename window: the target is missing and `.__old__` holds
    * the ONLY surviving copy. Without this, the next reader sees "no
    * layer" (an empty frame through read-or-empty paths) and the next
    * overwrite's cleanup would delete the sole copy — silent
    * truncation to the latest batch. Layer READERS must recover before
    * reading (Warehouse's readOrEmpty/ddlBootstrap do); overwriters
    * recover automatically. Returns true when a restore happened. */
  def recoverCrashedSwap(spark: org.apache.spark.sql.SparkSession,
                         path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    if (!fs.exists(target) && fs.exists(old)) {
      if (!fs.rename(old, target))
        throw new java.io.IOException(
          s"cannot restore crashed swap at $path from ${old.getName}")
      true
    } else false
  }

  /** Crash-safe layer overwrite: write to a temp dir next to the
    * target, then atomically swap (the reference gets this from
    * Postgres transactions; plain Parquet needs it engineered —
    * SURVEY.md §7.4). Rename is atomic on HDFS/posix per directory.
    * A crash between the two renames is recovered — not destroyed —
    * by the next call (see [[recoverCrashedSwap]]); `df`'s plan
    * executes at the tmp write, BEFORE any rename, so a plan reading
    * the target itself reads the restored data. */
  def atomicOverwrite(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__tmp__")
    val old = new org.apache.hadoop.fs.Path(path + ".__old__")
    fs.delete(tmp, true)
    if (!recoverCrashedSwap(spark, path))
      fs.delete(old, true) // stale leftover from a post-publish crash
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(target)) {
      if (!fs.rename(target, old))
        throw new java.io.IOException(s"cannot stage old $path")
    }
    if (!fs.rename(tmp, target)) {
      // roll back: put the old layer back before failing
      if (fs.exists(old)) fs.rename(old, target)
      throw new java.io.IOException(s"cannot publish $path")
    }
    fs.delete(old, true)
  }
}
