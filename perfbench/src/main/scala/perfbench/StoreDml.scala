package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TableStore

/** One order row of the versioned store (prices in cents, so every
  * sum is exact). */
final case class Order(key: Long, cust: Long, status: String,
                       price: Long, day: Int, prio: String)

object Order {
  val Cols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderday", "o_orderpriority")
  private val Statuses = Vector("O", "F", "P")
  private val Prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** splitmix64's finalizer: the same bits on the driver ([[mix]]) and
    * in Spark ([[mixCol]]; longs wrap the same way in both). */
  private val C1 = 0xbf58476d1ce4e5b9L
  private val C2 = 0x94d049bb133111ebL
  def mix(x: Long): Long = {
    val a = (x ^ (x >>> 30)) * C1
    val b = (a ^ (a >>> 27)) * C2
    b ^ (b >>> 31)
  }
  private def mixCol(x: Column): Column = {
    val a = x.bitwiseXOR(shiftrightunsigned(x, 30)) * lit(C1)
    val b = a.bitwiseXOR(shiftrightunsigned(a, 27)) * lit(C2)
    b.bitwiseXOR(shiftrightunsigned(b, 31))
  }

  /** The initial row of `key` under `seed`, field by field. */
  def initial(key: Long, seed: Long): Order = {
    def f(i: Int, n: Long) = java.lang.Math.floorMod(mix(key * 8 + i + seed * 1000003L), n)
    Order(key, 1 + f(0, 15000), Statuses(f(1, 3).toInt), 100000 + f(2, 50000000),
      (key / 60).toInt, Prios(f(3, 5).toInt))
  }

  /** The same rows as [[initial]] for keys 1..n, computed by Spark in
    * `parts` contiguous key ranges (one file each on append). */
  def initialFrame(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val k = col("id")
    def f(i: Int, m: Long) = pmod(mixCol(k * 8 + i + lit(seed * 1000003L)), lit(m))
    def pick(xs: Seq[String], i: Int) = element_at(array(xs.map(lit): _*), (f(i, xs.size) + 1).cast("int"))
    spark.range(1, n + 1, 1, parts).select(k.as(Cols(0)), (f(0, 15000) + 1).as(Cols(1)),
      pick(Statuses, 1).as(Cols(2)), (f(2, 50000000) + 100000).as(Cols(3)),
      (k / 60).cast("int").as(Cols(4)), pick(Prios, 3).as(Cols(5)))
  }

  def random(r: SplittableRandom, key: Long): Order =
    Order(key, 1 + r.nextLong(15000), Statuses(r.nextInt(3)),
      100000 + r.nextLong(50000000), (key / 60).toInt, Prios(r.nextInt(5)))

  def frame(spark: SparkSession, rows: Seq[Order]): DataFrame = {
    import spark.implicits._
    rows.map(o => (o.key, o.cust, o.status, o.price, o.day, o.prio)).toDF(Cols: _*)
  }

  def of(r: org.apache.spark.sql.Row): Order =
    Order(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4), r.getString(5))

  /** Order-independent content hash, computed the same way in Spark
    * ([[hashCol]]) and in the model ([[hash]]). */
  private val Mod = 2147483647L
  def hash(o: Order): Long =
    java.lang.Math.floorMod(o.key * 1000003L + o.price * 31L + o.status.charAt(0).toLong, Mod)
  val hashCol: Column = pmod(col("o_orderkey") * 1000003L + col("o_totalprice") * 31L +
    ascii(col("o_orderstatus")).cast("long"), lit(Mod))
}

/** In-memory key → row model of the store: every operation is applied
  * here too, and reads and end-of-block totals must match it exactly. */
final class StoreModel {
  val rows = mutable.LongMap[Order]()
  def totals: (Long, Long, Long) =
    (rows.size.toLong, rows.valuesIterator.map(_.price).sum,
      rows.valuesIterator.map(Order.hash).sum)
}

/** A seeded closed-loop mix of writes and reads on one versioned
  * [[TableStore]], key-ranged on `o_orderkey`, with keys skewed toward
  * the most recent range. One block is a fixed sequence — six writes
  * through every write verb, six reads, then compaction and vacuum —
  * so every run measures the same mix whatever its seed. */
final class StoreDmlWorkload(spark: SparkSession, seed: Long, nOrders: Int)
    extends Workload {

  private val Key = "o_orderkey"
  private val Stats = Seq(Key)
  private val SmallBytes = 32L * 1024
  private val TargetBytes = 1L * 1024 * 1024
  private val KeepVersions = 4
  private val catalog = "perfbench"
  spark.conf.set(s"spark.sql.catalog.$catalog",
    classOf[graft.sources.GraftCatalog].getName)

  private[perfbench] var root: String = _
  private[perfbench] var model: StoreModel = _
  private var r: SplittableRandom = _
  private var maxKey = 0L
  private var batchId = 0L
  private def table = s"$catalog.`$root`"

  // evidence for the per-layer figures
  private val touchedRatio = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  private val seenFiles = mutable.HashMap[String, Long]()
  private var baseline = Set.empty[String]
  private var rowsWritten = 0L

  def prepare(dir: Path): Unit = {
    r = new SplittableRandom(seed)
    model = new StoreModel
    root = dir.resolve("orders").toString
    (1L to nOrders.toLong).foreach(k => model.rows(k) = Order.initial(k, seed))
    maxKey = nOrders
    batchId = 0
    TableStore.append(Order.initialFrame(spark, nOrders, seed, 16), root, statsCols = Stats)
    touchedRatio.clear()
    rowsWritten = 0
    baseline = dataFiles().keySet
    seenFiles.clear()
  }

  /** A key skewed toward recent orders: 19 in 20 from the newest 5%
    * of the key space, the rest from anywhere. */
  private def recentKey(): Long =
    if (r.nextInt(20) < 19) maxKey - r.nextLong(math.max(1L, maxKey / 20))
    else 1 + r.nextLong(maxKey)

  private def liveKeys(n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    var tries = 0
    while (out.size < n && tries < n * 100) {
      val k = recentKey()
      if (model.rows.contains(k)) out += k
      tries += 1
    }
    out.toSeq
  }

  private def freshOrders(n: Int): Seq[Order] =
    (1 to n).map { _ => maxKey += 1; Order.random(r, maxKey) }

  private def rowsOf(df: DataFrame): Set[Order] = df.select(Order.Cols.map(col): _*)
    .collect().map(Order.of).toSet

  private def modelRange(lo: Long, hi: Long): Set[Order] =
    model.rows.valuesIterator.filter(o => o.key >= lo && o.key <= hi).toSet

  private def noteTouched(op: String, touched: Int, live: Int): Unit =
    touchedRatio.getOrElseUpdate(op, mutable.ArrayBuffer()) +=
      (if (live == 0) 0.0 else touched.toDouble / live)

  /** One timed write; `apply` then replays it on the model. A write
    * that must change rows must also commit a new version. */
  private def write(rec: Recorder, module: String, op: String, rows: Long)(
      body: => Any)(apply: => Unit): Unit = {
    val v0 = TableStore.versions(spark, root).last
    rec.op(module, op, Kind.Write, rows)(body) { _ =>
      val v1 = TableStore.versions(spark, root).last
      if (rows > 0 && v1 <= v0)
        throw new CheckFailed(s"$op committed no version ($v0 -> $v1)")
    }
    apply
    rowsWritten += rows
    trackFiles()
  }

  def probe(rec: Recorder): Unit = pointLookup(rec)
  /** The first block is the JVM's first run of each verb, the second
    * a warm rerun of the same mix. */
  override def passes: Int = 2

  def pass(rec: Recorder, dir: Path): Unit = {
    // merge: updates to recent keys plus new keys
    val upd = liveKeys(60).map(k => model.rows(k).copy(status = "F",
      price = model.rows(k).price + 1 + r.nextLong(1000)))
    val ins = freshOrders(40)
    write(rec, "ops", "merge", upd.size + ins.size) {
      TableStore.merge(Order.frame(spark, upd ++ ins), root, Key, statsCols = Stats)
    } { (upd ++ ins).foreach(o => model.rows(o.key) = o) }
    pointLookup(rec)

    // applyChanges: upserts and deletes in one commit
    val keys = liveKeys(60)
    val (ups, dels) = keys.splitAt(40)
    val upRows = ups.map(k => model.rows(k).copy(price = model.rows(k).price + 500))
    write(rec, "ops", "apply_changes", keys.size) {
      val changes = Order.frame(spark, upRows).withColumn("_op", lit("upsert"))
        .unionByName(Order.frame(spark, dels.map(model.rows))
          .withColumn("_op", lit("delete")))
      TableStore.applyChanges(changes, root, Key, statsCols = Stats)
    } { upRows.foreach(o => model.rows(o.key) = o); dels.foreach(model.rows.remove) }
    readRange(rec)

    // deleteWhere: one status inside a recent key range
    val lo = recentKey() - 300
    val hi = lo + 300
    val doomed = modelRange(lo, hi).filter(_.status == "P").map(_.key)
    write(rec, "ops", "delete_where", doomed.size) {
      TableStore.deleteWhere(spark, root,
        col(Key).between(lo, hi) && col("o_orderstatus") === "P", (Key, lo, hi),
        statsCols = Stats)
    } { doomed.foreach(model.rows.remove) }
    sqlAgg(rec)

    // appendBatch: exactly-once batch of new keys
    val batch = freshOrders(100)
    batchId += 1
    val id = batchId
    write(rec, "ops", "append_batch", batch.size) {
      val v = TableStore.appendBatch(Order.frame(spark, batch), root, id, statsCols = Stats)
      if (v.isEmpty) throw new CheckFailed(s"appendBatch($id) was skipped")
    } { batch.foreach(o => model.rows(o.key) = o) }
    pointLookup(rec)

    // SQL DELETE with an IN-subquery over a temp view of keys
    val gone = liveKeys(50)
    write(rec, "sources", "sql_delete", gone.size) {
      import spark.implicits._
      gone.toDF("k").createOrReplaceTempView("perfbench_keys")
      spark.sql(s"DELETE FROM $table WHERE $Key IN (SELECT k FROM perfbench_keys)")
        .collect()
    } { gone.foreach(model.rows.remove) }
    readRange(rec)

    // SQL UPDATE over a recent key range
    val ulo = recentKey() - 200
    val uhi = ulo + 200
    val touched = modelRange(ulo, uhi).toSeq
    write(rec, "sources", "sql_update", touched.size) {
      spark.sql(s"UPDATE $table SET o_totalprice = o_totalprice + 7 " +
        s"WHERE $Key BETWEEN $ulo AND $uhi").collect()
    } { touched.foreach(o => model.rows(o.key) = o.copy(price = o.price + 7)) }
    sqlAgg(rec)

    rec.op("ops", "compact", Kind.Upkeep) {
      TableStore.compactSmall(spark, root, SmallBytes, TargetBytes, statsCols = Stats)
    }(_ => ())
    trackFiles()
    rec.op("ops", "vacuum", Kind.Upkeep) {
      TableStore.vacuum(spark, root, KeepVersions)
    }(_ => ())

    rec.check("ops.store.totals") {
      val got = TableStore.read(spark, root)
        .agg(count(lit(1)), coalesce(sum("o_totalprice"), lit(0L)),
          coalesce(sum(Order.hashCol), lit(0L))).head()
      Check.equal("store totals (count, price, hash)",
        (got.getLong(0), got.getLong(1), got.getLong(2)), model.totals)
    }
  }

  private def pointLookup(rec: Recorder): Unit = {
    val keys = liveKeys(4) :+ recentKey()
    rec.op("ops", "point_lookup", Kind.Read) {
      val (df, touched, live) = TableStore.pointLookup(spark, root, Key, keys)
      (rowsOf(df), touched, live)
    } { case (got, touched, live) =>
      noteTouched("point_lookup", touched, live)
      Check.equal(s"pointLookup($keys)", got, keys.flatMap(model.rows.get).toSet)
    }
  }

  private def readRange(rec: Recorder): Unit = {
    val lo = recentKey() - 400
    val hi = lo + 400
    rec.op("ops", "read_range", Kind.Read) {
      val (df, touched, live) = TableStore.readRange(spark, root, Key, lo, hi)
      (rowsOf(df), touched, live)
    } { case (got, touched, live) =>
      noteTouched("read_range", touched, live)
      Check.equal(s"readRange($lo, $hi)", got, modelRange(lo, hi))
    }
  }

  private def sqlAgg(rec: Recorder): Unit = {
    val lo = maxKey - maxKey / 5
    rec.op("sources", "sql_agg", Kind.Read) {
      spark.sql(s"SELECT o_orderstatus, count(*), sum(o_totalprice) FROM $table " +
        s"WHERE $Key >= $lo GROUP BY o_orderstatus").collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    } { got =>
      val want = model.rows.valuesIterator.filter(_.key >= lo).toSeq
        .groupBy(_.status).map { case (s, os) => s -> (os.size.toLong, os.map(_.price).sum) }
      Check.equal(s"sql aggregate over keys >= $lo", got, want)
    }
  }

  /** Live data files of the current version, with their sizes. */
  private def liveFiles(): Seq[(String, Long)] =
    TableStore.read(spark, root).inputFiles.toSeq.map { f =>
      val p = Paths.get(new java.net.URI(f))
      p.toString -> Files.size(p)
    }

  private def dataFiles(): Map[String, Long] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        !p.toString.contains("/_log"))
      .map(p => p.toString -> Files.size(p)).toMap

  /** Remember every data file written since [[prepare]]. */
  private def trackFiles(): Unit =
    dataFiles().foreach { case (p, n) =>
      if (!baseline.contains(p)) seenFiles.getOrElseUpdate(p, n)
    }

  private def bytesUnder(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  override def summary(rec: Recorder): Seq[(String, Any)] =
    Seq("space_amp" -> bytesUnder(Paths.get(root)).toDouble / liveFiles().map(_._2).sum)

  override def layerExtra(): Map[String, Double] = {
    val live = liveFiles()
    val liveBytes = live.map(_._2).sum.toDouble
    val bytesPerRow = liveBytes / model.rows.size
    def medianRatio(op: String) = Layers.median(touchedRatio.getOrElse(op, Nil).toSeq)
    Map(
      "ops.point_lookup.files_touched_ratio" -> medianRatio("point_lookup"),
      "ops.read_range.files_touched_ratio" -> medianRatio("read_range"),
      "ops.store.write_amp" -> seenFiles.values.sum / (rowsWritten * bytesPerRow),
      "ops.store.versions" -> TableStore.versions(spark, root).size.toDouble,
      "ops.store.live_files" -> live.size.toDouble,
      "ops.store.space_amp" -> bytesUnder(Paths.get(root)).toDouble / liveBytes)
  }
}
