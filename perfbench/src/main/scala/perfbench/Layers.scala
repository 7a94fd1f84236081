package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics from a traced run: stages and queries are attributed
  * to the public call whose job group caused them, calls to the refresh
  * or interaction that made them.
  */
object Layers {

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Percentile, linear between order statistics: with few samples one
    * slow rerun moves it by a fraction, not by a whole rank.
    */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = p * (s.length - 1)
      val i = h.toInt
      if (i + 1 < s.length) s(i) + (h - i) * (s(i + 1) - s(i)) else s(i)
    }
  }

  final case class Result(metrics: Seq[(String, Double)],
                          selfTimes: Seq[(String, Int, Double, Double)],
                          runEtlBySite: Seq[(String, Int, Double)])

  /** `refreshReqs`: the refreshes whose time is `refresh_s`;
    * `interactionReqs`: the timed interactions.
    */
  def summarise(tr: SparkTracer, refreshReqs: Set[String],
                interactionReqs: Set[String], workbookBytes: Long,
                cleanRows: Long, gcSeconds: Double): Result = {
    tr.drain()
    val spans = tr.allSpans
    val children = spans.groupBy(_.parent)
    val stagesByGroup = tr.stages.toSeq.groupBy(_.group)
    val jobsByGroup = tr.jobs.values.toSeq.groupBy(_.group)
    val planningByGroup = tr.planningMs.asScala.toSeq
      .map { case (id, ms) => tr.execGroup.getOrElse(id, "") -> ms }
      .groupMapReduce(_._1)(_._2)(_ + _)
    def group(s: Span) = s"span-${s.id}"
    def stagesOf(ss: Seq[Span]) = ss.flatMap(s => stagesByGroup.getOrElse(group(s), Nil))
    def jobsOf(ss: Seq[Span]) = ss.flatMap(s => jobsByGroup.getOrElse(group(s), Nil))
    def kids(s: Span, name: String) = children.getOrElse(s.id, Nil).filter(_.name == name)

    val refreshes = spans.filter(s => s.name == "refresh" && refreshReqs(s.req))
    val perRefresh = refreshes.map { r =>
      val etl = stagesOf(kids(r, "pipeline.run_etl"))
      val all = stagesOf(children.getOrElse(r.id, Nil))
      val scans = all.filter(_.scansSheets)
      val parts = scans.map(_.numTasks).maxOption.getOrElse(0).toDouble
      val tasks = scans.map(_.numTasks).sum.toDouble
      val tables = etl.filter(_.site.contains("Tables.scala"))
      val agg = tables.filter(_.shuffleWrite > 0)
      val written = etl.map(_.bytesWritten).sum.toDouble
      Map(
        "sources.plan_s" -> kids(r, "sources.load").map(_.dur).sum,
        "sources.sheet_partitions" -> parts,
        "sources.scan_tasks" -> tasks,
        "sources.scan_passes" -> (if (parts > 0) tasks / parts else Double.NaN),
        "sources.tidy_rows" -> scans.sortBy(_.stageId).headOption.map(_.recordsRead.toDouble).getOrElse(0.0),
        "ops.dims_s" -> etl.filter(_.site.contains("Tidy.scala")).map(_.dur).sum,
        "ops.clean_agg_s" -> agg.map(_.dur).sum,
        "ops.clean_agg_shuffle_bytes" -> agg.map(_.shuffleWrite.toDouble).sum,
        "io.save_staging_s" -> tables.filter(s => s.shuffleWrite == 0 && s.shuffleRead == 0).map(_.dur).sum,
        "io.save_clean_s" -> tables.filter(s => s.shuffleWrite == 0 && s.shuffleRead > 0).map(_.dur).sum,
        "io.bytes_written" -> written,
        "io.write_amp" -> written / workbookBytes,
        "pipeline.run_etl_s" -> kids(r, "pipeline.run_etl").map(_.dur).sum,
        "spark.jobs_per_refresh" -> jobsOf(children.getOrElse(r.id, Nil)).size.toDouble)
    }

    val loads = spans.filter(_.name == "pipeline.load_for_dashboard")
    val perLoad = loads.map { l =>
      Map("io.load_s" -> stagesOf(Seq(l)).filter(_.site.contains("Tables.scala")).map(_.dur).sum,
        "pipeline.load_for_dashboard_s" -> l.dur)
    }

    val interactions = spans.filter(s => s.name == "interaction" && interactionReqs(s.req))
    val callNames = Seq("agg.domains", "agg.bar", "agg.line", "agg.pie", "agg.heatmap",
      "agg.treemap", "agg.profile", "insights.generate")
    val perCall = callNames.map { n =>
      s"${n}_s" -> median(interactions.flatMap(kids(_, n)).map(_.dur))
    }
    val perInteraction = interactions.map { i =>
      val calls = children.getOrElse(i.id, Nil)
      val st = stagesOf(calls)
      Map(
        "spark.jobs_per_interaction" -> jobsOf(calls).size.toDouble,
        "spark.planning_s" -> calls.map(c => planningByGroup.getOrElse(group(c), 0.0)).sum / 1000.0,
        "spark.scan_passes_per_interaction" -> st.map(_.recordsRead).sum.toDouble / cleanRows,
        "spark.sched_wait_s" -> st.map(_.meanTaskWaitMs).sum / 1000.0)
    }

    def med(rows: Seq[Map[String, Double]], k: String) = median(rows.flatMap(_.get(k)))
    val refreshKeys = Seq("sources.plan_s", "sources.sheet_partitions", "sources.scan_tasks",
      "sources.scan_passes", "sources.tidy_rows", "ops.dims_s", "ops.clean_agg_s",
      "ops.clean_agg_shuffle_bytes", "io.save_staging_s", "io.save_clean_s",
      "io.bytes_written", "io.write_amp", "pipeline.run_etl_s", "spark.jobs_per_refresh")
    val metrics =
      refreshKeys.map(k => k -> med(perRefresh, k)) ++
        Seq("io.load_s", "pipeline.load_for_dashboard_s").map(k => k -> med(perLoad, k)) ++
        perCall ++
        Seq("spark.jobs_per_interaction", "spark.planning_s",
          "spark.scan_passes_per_interaction", "spark.sched_wait_s")
          .map(k => k -> med(perInteraction, k)) :+
        ("jvm.gc_s" -> gcSeconds)

    // self time: a span's duration minus the part of it covered by its
    // child spans or, for a call, by the stages of its job group
    def covered(s: Span): Double = {
      val iv = (children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        stagesByGroup.getOrElse(group(s), Nil).map(st => (st.submit.toDouble, st.done.toDouble)))
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (ce.isNaN || a > ce) {
          if (!ce.isNaN) total += ce - cs
          cs = a; ce = b
        } else ce = math.max(ce, b)
      }
      if (!ce.isNaN) total += ce - cs
      total / 1000.0
    }
    val selfTimes = spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.dur).sum, ss.map(s => s.dur - covered(s)).sum)
    }.sortBy(-_._3)

    val etlStages = refreshes.flatMap(r => stagesOf(kids(r, "pipeline.run_etl")))
    val bySite = etlStages.groupBy(_.site).toSeq
      .map { case (n, ss) => (n, ss.size, ss.map(_.dur).sum) }.sortBy(-_._3)

    Result(metrics, selfTimes, bySite)
  }
}
