package graft

import org.apache.spark.sql.functions._
import graft.ops.Validate
import graft.ops.Validate.Rule

/** Quarantine-split and circuit-breaker semantics (SURVEY.md §2.2
  * P3-P5, §2.4 A11; reference dags/DataWarehouse.py:626-637,456-482).
  */
class ValidateSpec extends SparkSpec {

  private def churnish(rows: Seq[(Option[String], Int, String)]) = {
    val s = spark; import s.implicits._
    // row index keeps generated rows unique so set-compares are multiset-safe
    rows.zipWithIndex.map { case ((id, t, g), i) => (i, id, t, g) }
      .toDF("row_idx", "customer_id", "tenure", "gender")
  }

  private val rules = Seq(
    Rule("Missing ID", col("customer_id").isNull),
    Rule("Negative Tenure", col("tenure") < 0),
    Rule("Invalid Gender", !col("gender").isin("Male", "Female")))

  test("annotation lists failed rules in declaration order, '; '-joined") {
    val df = churnish(Seq((None, -1, "x")))
    val out = Validate.annotate(df, rules).select("error_details").head().getString(0)
    assert(out === "Missing ID; Negative Tenure; Invalid Gender")
  }

  test("good/bad partition the input: union = input, intersection empty (seeded property)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val rows = Seq.fill(60)((
        if (rnd.nextBoolean()) Some(s"c${rnd.nextInt(40)}") else None,
        rnd.nextInt(20) - 5,
        Seq("Male", "Female", "other", " male ")(rnd.nextInt(4))))
      val annotated = Validate.annotate(churnish(rows), rules)
      val good = rowsAsSet(Validate.good(annotated))
      val bad = rowsAsSet(Validate.bad(annotated))
      assert(good.intersect(bad) === Set.empty)
      assert(good.size + bad.size === annotated.count())
      assert((good ++ bad) === rowsAsSet(annotated))
      // every bad row names at least one rule; good rows name none
      assert(bad.forall(_.last.asInstanceOf[String].nonEmpty))
      assert(good.forall(_.last.asInstanceOf[String].isEmpty))
    }
  }

  test("duplicatedAll marks every copy but never NULL keys") {
    val s = spark; import s.implicits._
    val df = Seq(Some("a"), Some("a"), Some("b"), None, None)
      .toDF("customer_id")
      .withColumn("is_dup", Validate.duplicatedAll(col("customer_id")))
    val marked = df.collect().map(r => (Option(r.getString(0)), r.getBoolean(1)))
    assert(marked.count { case (k, d) => k.contains("a") && d } === 2)
    assert(marked.collect { case (Some("b"), d) => d }.forall(_ == false))
    // reference drops NULLs before the dup scan (dags/DataWarehouse.py:632-633)
    assert(marked.collect { case (None, d) => d }.forall(_ == false))
  }

  test("gate halts above the threshold BEFORE returning anything") {
    val df = churnish(Seq((None, 1, "Male"), (Some("c"), 1, "Male")))
    val annotated = Validate.annotate(df, rules) // 50% bad
    val e = intercept[IllegalStateException](Validate.gate(annotated, 10.0))
    assert(e.getMessage.contains("halting"))
  }

  test("gate passes clean frames through at or under the threshold") {
    val rows = (1 to 20).map(i => (Some(s"c$i"), 1, "Male")) :+
      (Option.empty[String], 1, "Male") // 1/21 ≈ 4.8% bad
    val out = Validate.gate(Validate.annotate(churnish(rows), rules), 10.0)
    assert(out.count() === 20)
  }

  test("an empty frame counts zero rows and passes a zero-threshold gate") {
    val annotated = Validate.annotate(churnish(Nil), rules)
    assert(Validate.counts(annotated) === ((0L, 0L)))
    val (out, bad) = Validate.gateCounted(annotated, 0.0)
    assert(bad === 0L && out.count() === 0L)
  }

  test("fdViolations: only violating keys surface; null-vs-value is " +
    "a violation; clean keys never appear") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Option("x")), (1L, Option("x")),          // clean
      (2L, Option("x")), (2L, Option("y")),          // two values
      (3L, Option("x")), (3L, None),                 // null split
      (4L, None), (4L, None))                        // consistently null
      .toDF("k", "v")
    val out = Validate.fdViolations(df, col("k"), col("v"))
      .orderBy("fd_key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (2L, 2L, "x", "y"),
      (3L, 2L, "__null__", "x")),
      s"unexpected violation set: ${out.toSeq}")
  }
}
