package perfbench

/** Per-layer figures from a traced run's spans. */
object Layers {

  /** Every traced operation, by module. Each gets the same six fields
    * in every traced run — 0 when the run never ran it, and the report
    * names those ([[report]]). */
  val Ops: Seq[String] = Seq(
    "pipeline.tick_full", "pipeline.tick_incr", "pipeline.tick_skip",
    "pipeline.gold_query", "pipeline.export", "pipeline.reprocess",
    "pipeline.churn_model",
    "ops.merge", "ops.apply_changes", "ops.delete_where", "ops.append_batch",
    "ops.point_lookup", "ops.read_range", "ops.compact", "ops.vacuum",
    "sources.sql_delete", "sources.sql_update", "sources.sql_agg")

  val Fields: Seq[(String, Span => Double)] = Seq(
    "jobs" -> (_.jobs.toDouble), "job_s" -> (_.jobS),
    "planning_s" -> (_.planningS),
    "codegen_compiles" -> (_.codegenCompiles.toDouble),
    "driver_outside_s" -> (_.driverOutsideS), "task_cpu_s" -> (_.taskCpuS))

  /** Figures a workload reports itself ([[Workload.layerExtra]]). */
  val WorkloadFigures: Seq[String] = Seq(
    "ops.point_lookup.files_touched_ratio", "ops.read_range.files_touched_ratio",
    "ops.store.write_amp", "ops.store.versions", "ops.store.live_files",
    "ops.store.space_amp")

  /** Engine objects the incremental tick's job time is attributed to. */
  val TickSites: Seq[String] = Seq("ops.CsvIngest", "ops.Validate", "ops.Upsert",
    "ops.Ledger", "pipeline.Warehouse", "pipeline.Quality")

  /** Median; 0 when the operation never ran. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median per execution of each field of each op, plus the
    * incremental tick's job seconds by engine call site. */
  def perLayer(spans: Seq[Span]): Seq[(String, Double)] = {
    val byOp = spans.groupBy(_.name)
    val fields = for (op <- Ops; (f, get) <- Fields)
      yield s"$op.$f" -> median(byOp.getOrElse(op, Nil).map(get))
    val sites = TickSites.map(site => s"pipeline.tick_incr.site.$site.job_s" ->
      median(byOp.getOrElse("pipeline.tick_incr", Nil).map(_.siteJobS.getOrElse(site, 0.0))))
    fields ++ sites
  }

  /** Share of an operation's wall its layers may leave unexplained, or
    * exceed, before the report lists it as a gap. */
  val Tolerance = 0.10

  /** The layers report of a traced run:
    *
    *  - `rank`: for each layer, the operations with the most of it
    *    (median per execution), top five;
    *  - `reconcile`: the layers measured apart from each other —
    *    planning, jobs and codegen — against each operation's wall
    *    (medians); an operation whose unexplained rest is more than
    *    10% of its wall, either way, is listed as a gap;
    *  - `overhead_frac`: the tracer's own cost on a repeated probe;
    *  - `not_run`: the operations of [[Ops]] this run never ran, whose
    *    per-layer fields print 0. */
  def report(spans: Seq[Span], overheadFrac: Double): Seq[(String, Any)] = {
    val rankBy: Seq[(String, Span => Double)] = Fields ++ Seq[(String, Span => Double)](
      "codegen_s" -> (_.codegenS), "wall_s" -> (_.wall))
    val byOp = spans.groupBy(_.name).toSeq.sortBy(_._1)
    def med(ss: Seq[Span], get: Span => Double) = median(ss.map(get))
    val rank = rankBy.map { case (layer, get) =>
      layer -> byOp.map { case (op, ss) => op -> med(ss, get) }
        .filter(_._2 > 0).sortBy(-_._2).take(5).map { case (op, v) => Seq(op, v) }
    }
    val gaps = byOp.flatMap { case (op, ss) =>
      val wall = med(ss, _.wall)
      val (plan, jobs, cg) = (med(ss, _.planningS), med(ss, _.jobS), med(ss, _.codegenS))
      val rest = wall - plan - jobs - cg
      if (wall <= 0 || math.abs(rest) <= Tolerance * wall) None
      else Some(f"$op: planning $plan%.3f + jobs $jobs%.3f + codegen $cg%.3f s " +
        f"leave $rest%+.3f s (${100 * rest / wall}%+.0f%%) of a $wall%.3f s wall")
    }
    Seq("rank" -> RawJson(Json.obj(rank)),
      "reconcile" -> RawJson(Json.obj(Seq("tolerance" -> Tolerance, "ops" -> byOp.size,
        "within" -> (byOp.size - gaps.size), "gaps" -> gaps))),
      "overhead_frac" -> overheadFrac,
      "not_run" -> Ops.filterNot(op => byOp.exists(_._1 == op)))
  }
}
