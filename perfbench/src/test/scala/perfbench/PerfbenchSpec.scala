package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableStore

/** The benchmark's own checks: its inputs are a pure function of the
  * seed, and its store model agrees with the store itself. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = graft.GraftSession.tune(SparkSession.builder()
      .master("local[2]")
      .appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer[Path]()
  private def tmp(tag: String): Path = {
    val d = Files.createTempDirectory(s"perfbench_$tag")
    dirs += d
    d
  }
  override def afterAll(): Unit = dirs.foreach(Main.deleteTree)

  /** Every file under `dir`, relative path -> bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap

  test("the same seed gives byte-identical landing files and truth") {
    val (a, b, c) = (tmp("gen_a"), tmp("gen_b"), tmp("gen_c"))
    val ta = ChurnGen.generate(a, 2000, 3, seed = 7)
    val tb = ChurnGen.generate(b, 2000, 3, seed = 7)
    ChurnGen.generate(c, 2000, 3, seed = 8)
    assert(ta == tb)
    val (fa, fb) = (tree(a), tree(b))
    assert(fa.keySet.contains("truth.json") && fa.keySet.contains("day0/churn_00.csv"))
    assert(fa == fb)
    assert(tree(c) != fa, "another seed must give other inputs")
  }

  test("generated landing batches stay under the 10% circuit breaker") {
    val dir = tmp("breaker")
    val truth = ChurnGen.generate(dir, 2000, 2, seed = 3)
    truth.days.sliding(2).foreach { case Seq(prev, day) =>
      val bad = day.quarantined - prev.quarantined
      assert(bad * 10 < day.rows, s"$bad invalid of ${day.rows} rows")
    }
    assert(truth.days.head.quarantined * 10 < truth.days.head.rows)
  }

  test("the store model agrees with TableStore.read after a seeded mix") {
    val wl = new StoreDmlWorkload(spark, seed = 5, nOrders = 3000)
    val dir = tmp("store")
    wl.prepare(dir)
    val rec = new Recorder(None)
    wl.pass(rec, dir.resolve("pass0"))
    wl.pass(rec, dir.resolve("pass1"))
    assert(rec.failed == 0, rec.errors.mkString("; "))
    val stored = TableStore.read(spark, wl.root).collect().map(Order.of).toSet
    assert(stored == wl.model.rows.values.toSet)
  }

  test("a wrong store total in the second block makes the run incorrect") {
    val store = new StoreDmlWorkload(spark, seed = 5, nOrders = 3000)
    // after the first block, the model gains a row no read ever looks
    // at, so only the end-of-block totals can see that it is missing
    val wl = new Workload {
      private var block = 0
      def prepare(dir: Path): Unit = store.prepare(dir)
      def pass(rec: Recorder, dir: Path): Unit = {
        if (block == 1) store.model.rows(-1000000L) = Order.initial(1, 5).copy(key = -1000000L)
        block += 1
        store.pass(rec, dir)
      }
      override def passes: Int = store.passes
      def probe(rec: Recorder): Unit = store.probe(rec)
    }
    val dir = tmp("totals")
    wl.prepare(dir)
    val rec = new Recorder(None)
    val passes = Main.measure(wl, rec, dir)
    assert(passes.size == 1)
    assert(rec.failed == 1, rec.errors.mkString("; "))
    assert(rec.errors.head.startsWith("ops.store.totals:"), rec.errors.head)
    assert(!Main.correct(rec.failed, passes.size, wl))
  }

  test("Spark builds the same initial store rows as the model") {
    val rows = Order.initialFrame(spark, 500, seed = 9, parts = 3).collect().map(Order.of)
    assert(rows.toSeq == (1L to 500L).map(Order.initial(_, 9)))
  }
}
