package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Deterministic churn-landing generator: the same seed and sizes give
  * byte-identical landing files and truth on every run.
  *
  * It writes the two landing CSV dialects of FIXTURES.md — A1 (classic
  * telco: Title-Case header, geo columns the layers drop, no audit
  * timestamps) and A2 (backend export: snake_case, created_at /
  * updated_at / record_type, 'n/a' dirty values) — for an initial full
  * load and `days` nightly increments, each with a correction drop, and
  * beside them the truth every pipeline operation is checked against.
  * The truth comes from modelling the pipeline's documented semantics
  * (ledger decisions, validation rules, the bronze partial upsert, the
  * append-only fact, the silver refresh, watermark windows) on the
  * generated rows; it never runs Spark.
  *
  * Layout under `dir`:
  *   day0/      8 files (4 A1 + 4 A2), ~2% invalid rows
  *   dayN/      2 new files (A1 + A2, ~10% of day 0's customers), a
  *              changed re-delivery of the previous day's A1 file and an
  *              unchanged re-delivery of a day-0 file
  *   fixedN/    the day's correction drop: accepted and rejected rows
  *   truth.json
  */
object ChurnGen {

  val ClassicHeader: String =
    "Customer ID,Gender,Senior Citizen,Partner,Dependents,Country,State," +
      "City,Zip Code,Lat Long,Latitude,Longitude,Phone Service," +
      "Multiple Lines,Internet Service,Online Security,Online Backup," +
      "Device Protection,Tech Support,Streaming TV,Streaming Movies," +
      "Paperless Billing,Payment Method,Contract,Tenure In Months," +
      "Monthly Charges Amount,Total Charges,Churn Label,Churn Value," +
      "Churn Score,Cltv,Churn Reason"

  val ExportHeader: String =
    "customer_id,gender,senior_citizen,partner,dependents,country,state," +
      "city,phone_service,multiple_lines,internet_service,online_security," +
      "online_backup,device_protection,tech_support,streaming_tv," +
      "streaming_movies,paperless_billing,payment_method,contract," +
      "tenure_in_months,monthly_charges_amount,total_charges,churn_label," +
      "churn_value,churn_score,cltv,churn_reason,created_at,updated_at," +
      "record_type"

  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Epoch = LocalDateTime.of(2020, 3, 1, 0, 0, 0)

  /** Day d's export watermark: its A2 rows are stamped in the window
    * (exportTs(d-1), exportTs(d)]. A1 rows and re-delivered rows get
    * load-time stamps, which fall after every window. */
  def exportTs(day: Int): String = Epoch.plusDays(2L * day).format(Fmt)
  def runDate(day: Int): String = Epoch.plusDays(2L * day + 1).toLocalDate.toString
  val ModelRunTs = "2020-06-01 06:00:00"

  private val Places = Vector(
    "California" -> "Los Angeles", "California" -> "San Diego",
    "California" -> "Fresno", "New York" -> "Albany", "New York" -> "Buffalo",
    "Texas" -> "Austin", "Texas" -> "Dallas", "Texas" -> "El Paso",
    "Ohio" -> "Columbus", "Ohio" -> "Dayton", "Oregon" -> "Salem",
    "Oregon" -> "Eugene", "Florida" -> "Tampa", "Florida" -> "Miami",
    "Nevada" -> "Reno", "Utah" -> "Provo")
  private val Payments = Vector("Electronic check", "Mailed check",
    "Bank transfer (automatic)", "Credit card (automatic)")
  private val Contracts = Vector("Month-to-month", "One year", "Two year")
  private val Reasons = Vector("Competitor made better offer",
    "Attitude of support person", "Price too high", "Moved",
    "Network reliability")
  /** Service bundles: the 9 service columns move together, as real
    * plans do, so dim_services stays bundle-sized. */
  private val Bundles: Vector[Vector[String]] = {
    val none = Vector.fill(6)("No internet service")
    val phoneOnly = Seq("No", "Yes").map(ml => Vector("Yes", ml, "No") ++ none)
    val full = for (i <- Seq("DSL", "Fiber optic"); ml <- Seq("Yes", "No");
                    sec <- Seq("Yes", "No"); tv <- Seq("Yes", "No"))
      yield Vector("Yes", ml, i, sec, sec, "No", sec, tv, tv)
    val noPhone = for (i <- Seq("DSL", "Fiber optic"); tv <- Seq("Yes", "No"))
      yield Vector("No", "No phone service", i, "No", "No", "Yes", "No", tv, "No")
    (phoneOnly ++ full ++ noPhone).toVector
  }

  final case class Cust(id: String, gender: String, senior: String,
                        partner: String, dependents: String,
                        state: String, city: String, bundle: Int,
                        paperless: String, payment: String, contract: String,
                        tenure: Int, monthlyCents: Long, churn: Boolean,
                        score: Int, cltv: Int, reason: String,
                        createdAt: String, updatedAt: String) {
    def stamp: String = if (updatedAt > createdAt) updatedAt else createdAt
  }

  /** What one ledgered load and its follow-up operations must yield. */
  final case class Day(rows: Long, decisions: Map[String, Long],
                       quarantined: Long, bronze: Long, bronzeCents: Long,
                       fact: Long, factCents: Long,
                       skipDecisions: Map[String, Long], exported: Long,
                       accepted: Long, rejected: Long,
                       silver: Long, silverTenure: Long) {
    def toJson: String = Json.obj(Seq(
      "rows" -> rows, "decisions" -> decisions, "quarantined" -> quarantined,
      "bronze" -> bronze, "bronze_cents" -> bronzeCents, "fact" -> fact,
      "fact_cents" -> factCents, "skip_decisions" -> skipDecisions,
      "exported" -> exported, "accepted" -> accepted, "rejected" -> rejected,
      "silver" -> silver, "silver_tenure" -> silverTenure))
  }

  /** Day 0 is the initial full load. */
  final case class Truth(days: IndexedSeq[Day]) {
    def toJson: String = days.map(_.toJson).mkString("{\"days\":[", ",", "]}\n")
  }

  private def money(cents: Long): String =
    if (cents < 0) "-" + money(-cents)
    else String.format(Locale.ROOT, "%d.%02d", Long.box(cents / 100), Long.box(cents % 100))

  /** A customer; A2 rows are stamped inside `day`'s export window. */
  private def customer(r: SplittableRandom, id: String, a2: Boolean, day: Int): Cust = {
    val (state, city) = Places(r.nextInt(Places.size))
    val churn = r.nextInt(100) < 27
    // window (exportTs(day-1), exportTs(day)] is two days wide
    val created = Epoch.plusDays(2L * day - 2).plusSeconds(1 + r.nextLong(86400L))
    val updated = if (r.nextInt(10) < 3) created.plusSeconds(r.nextLong(86400L)) else created
    Cust(id,
      if (r.nextBoolean()) "Male" else "Female",
      if (r.nextInt(6) == 0) "Yes" else "No",
      if (r.nextBoolean()) "Yes" else "No",
      if (r.nextInt(3) == 0) "Yes" else "No",
      state, city, r.nextInt(Bundles.size),
      if (r.nextBoolean()) "Yes" else "No",
      Payments(r.nextInt(Payments.size)),
      Contracts(r.nextInt(Contracts.size)),
      1 + r.nextInt(72), 1800L + r.nextLong(10000L), churn,
      r.nextInt(101), 2000 + r.nextInt(4500),
      if (churn) Reasons(r.nextInt(Reasons.size)) else "",
      if (a2) created.format(Fmt) else "", if (a2) updated.format(Fmt) else "")
  }

  /** One CSV line in the file's dialect; the options override typed
    * values with raw text (invalid-row injection). */
  private def line(c: Cust, a2: Boolean, dirty: Boolean = false,
                   tenure: Option[String] = None,
                   contract: Option[String] = None,
                   payment: Option[String] = None,
                   internet: Option[String] = None): String = {
    val svc = internet.fold(Bundles(c.bundle))(Bundles(c.bundle).updated(2, _))
    val head = Seq(c.id, c.gender, c.senior, c.partner, c.dependents,
      "United States", c.state, c.city)
    val geo = if (a2) Nil else Seq("90003", "\"33.96& -118.27\"", "33.96", "-118.27")
    val tail = svc ++ Seq(c.paperless, payment.getOrElse(c.payment),
      contract.getOrElse(c.contract), tenure.getOrElse(c.tenure.toString),
      money(c.monthlyCents), money(c.monthlyCents * c.tenure),
      if (c.churn) "Yes" else "No", if (c.churn) "1" else "0",
      if (dirty) "n/a" else c.score.toString,
      if (dirty) "n/a" else c.cltv.toString,
      if (dirty) "n/a" else c.reason)
    val audit = if (a2)
      Seq(c.createdAt, c.updatedAt, if (c.createdAt == c.updatedAt) "new" else "updated")
    else Nil
    (head ++ geo ++ tail ++ audit).mkString(",")
  }

  private def content(a2: Boolean, lines: Seq[String]): String =
    ((if (a2) ExportHeader else ClassicHeader) +: lines).mkString("", "\n", "\n")

  private def write(dir: Path, name: String, text: String): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), text.getBytes(StandardCharsets.UTF_8))
  }

  /** Generate an initial load of `nCustomers` customers and `days`
    * nightly increments, each with its correction drop, under `dir`;
    * returns the truth it also writes
    * there as truth.json. */
  def generate(dir: Path, nCustomers: Int, days: Int, seed: Long): Truth = {
    require(nCustomers >= 1000, s"need at least 1000 customers: $nCustomers")
    val r = new SplittableRandom(seed)
    var nextId = 0
    def freshId(): String = {
      nextId += 1
      val letters = (0 until 5).map(_ => ('A' + r.nextInt(26)).toChar).mkString
      f"$nextId%07d-$letters"
    }

    // model state, carried from day to day
    val bronze = mutable.LinkedHashMap[String, Cust]()
    val factCents = mutable.HashMap[String, Long]()
    val landing = mutable.LinkedHashMap[String, String]() // name -> content
    val ledger = mutable.HashMap[String, String]()
    var quarantined = 0L
    var lastA1: (String, Seq[Cust]) = null
    val out = mutable.ArrayBuffer[Day]()

    def decide(): Map[String, Long] = {
      val d = landing.toSeq.map { case (n, c) =>
        ledger.get(n) match {
          case None => "new"
          case Some(`c`) => "unchanged"
          case Some(_) => "changed"
        }
      } ++ ledger.keys.toSeq.filterNot(landing.contains).map(_ => "missing")
      d.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    }

    /** New files for one day: valid customers spread over the files,
      * plus ~2% invalid rows with fresh ids (both copies of a
      * duplicated id are invalid). Returns the valid customers. */
    def newFiles(tick: Path, day: Int, names: Seq[(String, Boolean)],
                 nValid: Int): Seq[(String, Boolean, Seq[Cust])] =
      names.map { case (name, a2) =>
        val custs = Seq.fill(nValid / names.size)(customer(r, freshId(), a2, day))
        val lines = mutable.ArrayBuffer[String]()
        custs.foreach(c => lines += line(c, a2, dirty = a2 && r.nextInt(10) < 3))
        for (i <- 0 until math.max(5, custs.size / 50)) {
          val c = customer(r, freshId(), a2, day)
          i % 5 match {
            case 0 => lines += line(c, a2, tenure = Some("-5"))
            case 1 => lines += line(c.copy(gender = "Other"), a2)
            case 2 => lines += line(c.copy(monthlyCents = -150), a2)
            case 3 => lines += line(c.copy(id = ""), a2)
            case _ => lines += line(c, a2); lines += line(c, a2)
          }
        }
        quarantined += lines.size - custs.size
        // interleave deterministically so invalid rows are spread out
        val n = lines.size
        val text = content(a2, lines.indices.sortBy(i => (i * 7919L) % n).map(lines))
        write(tick, name, text)
        landing(name) = text
        (name, a2, custs)
      }

    /** Run the modelled ledger protocol over the landing zone. */
    def load(files: Seq[(String, Boolean, Seq[Cust])], changed: Seq[Cust],
             day: Int): (Long, Map[String, Long]) = {
      val decisions = decide()
      val processed = landing.keys.filter(n => !ledger.get(n).contains(landing(n))).toSeq
      val rows = processed.map(n => landing(n).count(_ == '\n') - 1L).sum
      processed.foreach { n => ledger(n) = landing(n); landing.remove(n) }
      (files.flatMap(_._3) ++ changed).foreach(c => bronze(c.id) = c)
      files.flatMap(_._3).foreach(c => factCents(c.id) = c.monthlyCents)
      (rows, decisions)
    }

    def corrections(day: Int): (Long, Long, Long, Long) = {
      val silver = mutable.LinkedHashMap[String, Cust]() ++= bronze
      val lines = mutable.ArrayBuffer[String]()
      val existing = silver.keys.toIndexedSeq
      val fix = mutable.LinkedHashSet[String]()
      while (fix.size < math.max(4, nCustomers / 100)) fix += existing(r.nextInt(existing.size))
      fix.foreach { id =>
        val c = silver(id).copy(tenure = silver(id).tenure + 12,
          createdAt = "", updatedAt = "")
        silver(id) = c
        lines += line(c, a2 = false)
      }
      val nFresh = math.max(2, nCustomers / 400)
      (0 until nFresh).foreach { _ =>
        val c = customer(r, freshId(), a2 = false, day)
        silver(c.id) = c
        lines += line(c, a2 = false)
      }
      val nRejected = math.max(4, nCustomers / 400)
      (0 until nRejected).foreach { i =>
        val c = customer(r, freshId(), a2 = false, day)
        lines += (i % 4 match {
          case 0 => line(c, a2 = false, contract = Some("Weekly"))
          case 1 => line(c, a2 = false, tenure = Some("twelve"))
          case 2 => line(c, a2 = false, payment = Some("Vodafone Cash"))
          case _ => line(c, a2 = false, internet = Some("Other"))
        })
      }
      write(dir.resolve(s"fixed$day"), "corrections.csv", content(a2 = false, lines.toSeq))
      (fix.size.toLong + nFresh, nRejected.toLong, silver.size.toLong,
        silver.values.map(_.tenure.toLong).sum)
    }

    def exported(day: Int): Long = {
      val (lo, hi) = (if (day == 0) "1970-01-01 00:00:00" else exportTs(day - 1), exportTs(day))
      bronze.values.count(c => c.createdAt.nonEmpty && c.stamp > lo && c.stamp <= hi).toLong
    }

    for (day <- 0 to days) {
      val tick = dir.resolve(s"day$day")
      val names =
        if (day == 0) (0 until 8).map(i => (f"churn_$i%02d.csv", i >= 4))
        else Seq((s"d${day}_new_a1.csv", false), (s"d${day}_new_a2.csv", true))
      val files = newFiles(tick, day, names, if (day == 0) nCustomers else nCustomers / 10)
      val changed = if (day == 0) Nil else {
        // the previous day's A1 file, re-delivered with new charges and
        // tenure for half its customers (both refresh in bronze)
        val (name, custs) = lastA1
        val re = custs.map(c => if (r.nextBoolean())
          c.copy(monthlyCents = c.monthlyCents + 100 + r.nextLong(500), tenure = c.tenure + 1)
          else c)
        val text = content(a2 = false, re.map(c => line(c, a2 = false)))
        write(tick, name, text)
        landing(name) = text
        // a day-0 file re-delivered byte for byte: unchanged
        write(tick, "churn_01.csv", ledger("churn_01.csv"))
        landing("churn_01.csv") = ledger("churn_01.csv")
        re
      }
      val (rows, decisions) = load(files, changed, day)
      lastA1 = files.find(!_._2).map(f => (f._1, f._3)).get
      val (accepted, rejected, silver, tenure) = corrections(day)
      out += Day(rows, decisions, quarantined, bronze.size,
        bronze.values.map(_.monthlyCents).sum, factCents.size, factCents.values.sum,
        decide(), exported(day), accepted, rejected, silver, tenure)
    }
    val truth = Truth(out.toIndexedSeq)
    Files.write(dir.resolve("truth.json"), truth.toJson.getBytes(StandardCharsets.UTF_8))
    truth
  }
}
