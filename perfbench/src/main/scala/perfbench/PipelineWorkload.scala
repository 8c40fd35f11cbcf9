package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/** The paper's nightly warehouse on one warehouse root: the DAG's
  * operations for a given day of the generated inputs — the ledgered
  * load (full on day 0, incremental after: new, changed and unchanged
  * files), an analyst query on the gold star, the re-run that finds
  * nothing new (the skip), the day's watermark export, its correction
  * drop, and the churn model. Every operation is checked against the
  * generator's truth. */
final class PipelineWorkload(spark: SparkSession, inputs: Path,
                             truth: ChurnGen.Truth, root: Path) {
  private val layers = Warehouse.Layers(root.resolve("wh").toString)
  private val landing = root.resolve("landing")
  private val watermark = root.resolve("export_watermark.txt").toString
  private val exports = root.resolve("exports").toString

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.toSeq.sortBy(_.toString).foreach(f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  private def bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)

  private def decisions(d: DataFrame): Map[String, Long] =
    d.groupBy("decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Analyst query on the gold star: fact rows and charges per
    * contract type, totalled. */
  private def goldQuery(): (Long, Long) = {
    val fact = spark.read.parquet(layers.fact)
    val contract = spark.read.parquet(layers.dim("contract"))
    val rows = fact.join(contract, Seq("contract_key"))
      .groupBy("contract_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("monthly_charges_amount") * 100).cast("long")).as("c"))
      .collect()
    (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum)
  }

  /** One ledgered load of `day`'s landing files, then the gold query. */
  private def tick(rec: Recorder, op: String, day: Int): Unit = {
    val t = truth.days(day)
    copyDir(inputs.resolve(s"day$day"), landing)
    rec.op("pipeline", op, Kind.Write, t.rows) {
      Warehouse.runWithLedger(spark, landing.toString, layers, ChurnGen.runDate(day))
    } { case (d, q) =>
      Check.equal(s"$op decisions", decisions(d), t.decisions)
      val failing = q.map(_.filter(!col("pass")).collect().toSeq)
      Check.equal(s"$op failing quality checks", failing, Some(Nil))
      val b = bronze.agg(count(lit(1)),
        sum(round(col("monthly_charges_amount") * 100).cast("long"))).head()
      Check.equal(s"$op bronze (rows, cents)", (b.getLong(0), b.getLong(1)),
        (t.bronze, t.bronzeCents))
      Check.equal(s"$op quarantined",
        spark.read.parquet(layers.quarantine).count(), t.quarantined)
    }
    analystQuery(rec, day)
  }

  private def export(rec: Recorder, day: Int): Unit = {
    val want = truth.days(day).exported
    val runTs = ChurnGen.exportTs(day)
    rec.op("pipeline", "export", Kind.Write, want) {
      Export.run(spark, bronze, watermark, exports, runTs)
    } { n =>
      Check.equal(s"export rows to $runTs", n, want)
      Check.equal("export watermark",
        new graft.ops.Incremental.WatermarkStore(watermark).read(), runTs)
    }
  }

  private def skip(rec: Recorder, day: Int): Unit =
    rec.op("pipeline", "tick_skip", Kind.Read) {
      Warehouse.runWithLedger(spark, landing.toString, layers, ChurnGen.runDate(day))
    } { case (d, q) =>
      Check.equal("tick_skip decisions", decisions(d), truth.days(day).skipDecisions)
      Check.equal("tick_skip ran a load", q.isDefined, false)
    }

  private def reprocess(rec: Recorder, day: Int): Unit = {
    val t = truth.days(day)
    val fixed = root.resolve(s"fixed$day")
    copyDir(inputs.resolve(s"fixed$day"), fixed)
    rec.op("pipeline", "reprocess", Kind.Write, t.accepted + t.rejected) {
      Reprocess.run(spark, fixed.toString, layers)
    } { got =>
      Check.equal("reprocess (accepted, rejected)", got, (t.accepted, t.rejected))
      val s = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
        .agg(count(lit(1)), sum(col("tenure_in_months").cast("long"))).head()
      Check.equal("silver (rows, tenure) after reprocess", (s.getLong(0), s.getLong(1)),
        (t.silver, t.silverTenure))
    }
  }

  /** The nightly DAG on day 0: the full load, its re-run that finds
    * nothing new, the first export window, the correction drop and
    * the analyst query again. */
  def fullLoad(rec: Recorder): Unit = {
    tick(rec, "tick_full", 0)
    skip(rec, 0)
    export(rec, 0)
    reprocess(rec, 0)
    analystQuery(rec, 0)
  }

  /** The next night's incremental load: new, changed and unchanged
    * files. */
  def incremental(rec: Recorder): Unit = tick(rec, "tick_incr", 1)

  /** The monthly churn model over the current gold star. */
  def churnModel(rec: Recorder, day: Int): Unit = {
    val want = truth.days(day).fact
    rec.op("pipeline", "churn_model", Kind.Write, want) {
      ChurnModel.run(spark, layers, ChurnGen.ModelRunTs)
    } { preds =>
      val r = preds.agg(count(lit(1)),
        count(when(col("churn_prediction").isin(0, 1), 1))).head()
      Check.equal("churn predictions (rows, 0/1 labels)",
        (r.getLong(0), r.getLong(1)), (want, want))
    }
  }

  /** The gold-star query, checked against `day`'s fact totals. */
  def analystQuery(rec: Recorder, day: Int): Unit =
    rec.op("pipeline", "gold_query", Kind.Read)(goldQuery()) { got =>
      Check.equal(s"gold query on day $day", got,
        (truth.days(day).fact, truth.days(day).factCents))
    }
}

/** The nightly pipeline as a benchmark workload: one pass is day 0 of
  * the nightly DAG on a fresh warehouse. Traced runs also time the
  * next night's incremental load and the churn model. */
final class PipelineRunner(spark: SparkSession, seed: Long, customers: Int)
    extends Workload {
  private var wl: PipelineWorkload = _
  private var day = 0

  def prepare(dir: Path): Unit = {
    val truth = ChurnGen.generate(dir.resolve("inputs"), customers, days = 1, seed)
    wl = new PipelineWorkload(spark, dir.resolve("inputs"), truth, dir.resolve("warehouse"))
    day = 0
  }
  def pass(rec: Recorder, dir: Path): Unit = wl.fullLoad(rec)
  override def tracedOnly(rec: Recorder, deadlineMs: Long): Unit = {
    def inTime(op: String) = System.currentTimeMillis() < deadlineMs || {
      rec.missed(op, "the traced run passed its deadline"); false
    }
    if (inTime("pipeline.tick_incr")) { day = 1; wl.incremental(rec) }
    if (inTime("pipeline.churn_model")) wl.churnModel(rec, day)
  }
  def probe(rec: Recorder): Unit = wl.analystQuery(rec, day)
}
