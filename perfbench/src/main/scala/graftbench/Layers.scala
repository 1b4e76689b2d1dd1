package graftbench

import graftbench.Trace.{Counters, SpanStat, Summary}

/** Per-layer metrics of a traced run. Each value is the median over the
  * timed ops of that op's value; a layer the workload never enters reads
  * 0. The names are the `per_layer` names of BENCHMARK.json. */
object Layers {
  private val spanCounters = Seq("setup", "op", "read")

  def metrics(s: Summary, sessions: Seq[(Double, Double)], warmupOps: Int,
              opP50S: Double, untracedOpP50S: Seq[Double], written: Map[Int, (Int, Int)],
              layerValues: Map[Int, Map[String, Double]]): Seq[(String, Double, String)] = {
    val iters = s.spans.filter(_.span.name == "iter").zipWithIndex.map { case (it, k) =>
      (warmupOps + k, it, s.descendants(it))
    }
    def perOp(f: (Int, Vector[SpanStat]) => Double): Double =
      Stats.median(iters.map { case (i, _, d) => f(i, d) })
    def named(d: Vector[SpanStat], name: String) = d.filter(_.span.name == name)
    def incl(name: String)(f: Counters => Double) = perOp((_, d) =>
      named(d, name).map(x => f(x.incl)).sum)

    val session = Seq(
      ("session.start_s", Stats.median(sessions.map(_._1)), "s"),
      ("session.first_job_s", Stats.median(sessions.map(_._2)), "s"))
    val sources = Seq(
      ("sources.write_s", perOp((_, d) => named(d, "sources.write").map(_.lastJobMs).sum / 1e3), "s"),
      ("sources.commit_s", perOp((_, d) => named(d, "sources.write").map(_.tailMs).sum / 1e3), "s"),
      ("sources.dirs_written", perOp((i, _) => written.get(i).fold(0.0)(_._1.toDouble)), "count"),
      ("sources.files_written", perOp((i, _) => written.get(i).fold(0.0)(_._2.toDouble)), "count"),
      ("sources.listing_jobs", perOp((_, d) =>
        (named(d, "op") ++ named(d, "read")).map(_.incl.listingJobs.toDouble).sum), "count"),
      ("sources.listing_s", perOp((_, d) =>
        (named(d, "op") ++ named(d, "read")).map(_.incl.listingMs / 1e3).sum), "s"))
    // the full sync runs in set-up: its spans are the last set-up's
    def lastSetup(name: String): Option[SpanStat] = s.spans.filter(_.span.name == name).lastOption
    val olap = Seq(
      ("olap.full_sync_s", lastSetup("olap.full_sync").fold(0.0)(_.span.seconds), "s"),
      ("olap.full_sync_commit_s", lastSetup("olap.full_sync").fold(0.0)(_.tailMs / 1e3), "s"),
      ("olap.build_s", lastSetup("olap.build").fold(0.0)(_.span.seconds), "s"),
      ("olap.dims_compute_s", lastSetup("olap.dims_compute").fold(0.0)(_.span.seconds), "s"),
      ("olap.fact_compute_s", lastSetup("olap.fact_compute").fold(0.0)(_.span.seconds), "s"),
      ("olap.fact_shuffle_bytes",
        lastSetup("olap.fact_compute").fold(0.0)(_.incl.shuffleWrite.toDouble), "bytes")) ++
      Seq("olap.incr_rows_rewritten" -> "count", "olap.incr_dates_rewritten" -> "count",
        "olap.incr_amplification" -> "ratio").map { case (k, unit) =>
        (k, perOp((i, _) => layerValues.get(i).flatMap(_.get(k)).getOrElse(0.0)), unit)
      }
    val ops = Seq(
      ("ops.graph_stages", incl("ops.graph")(_.stages.toDouble), "count"),
      ("ops.graph_shuffle_bytes", incl("ops.graph")(_.shuffleWrite.toDouble), "bytes"),
      ("ops.graph_spill_bytes", incl("ops.graph")(_.spill.toDouble), "bytes"))
    def counters(prefix: String, c: Seq[Counters], caches: Seq[Double]) = {
      def m(f: Counters => Double) = Stats.median(c.map(f))
      Seq((s"$prefix.jobs", m(_.jobs.toDouble), "count"),
        (s"$prefix.stages", m(_.stages.toDouble), "count"),
        (s"$prefix.tasks", m(_.tasks.toDouble), "count"),
        (s"$prefix.task_max_ms", m(_.taskMaxMs.toDouble), "ms"),
        (s"$prefix.task_p50_ms", m(_.taskP50Ms), "ms"),
        (s"$prefix.gc_ms", m(_.gcMs.toDouble), "ms")) ++
        (if (caches.isEmpty) Nil else Seq((s"$prefix.caches", Stats.median(caches), "count")))
    }
    val spans = spanCounters.flatMap { name =>
      val xs = if (name == "setup") s.spans.filter(_.span.name == "setup").takeRight(1)
               else iters.flatMap { case (_, _, d) => named(d, name) }
      counters(s"span.$name", xs.map(_.incl), xs.map(_.span.caches.toDouble))
    } ++ counters("span.unattributed", Seq(s.unattributed), Nil) ++ Seq(
      ("attrib.property_jobs", s.jobsByProperty.toDouble, "count"),
      ("attrib.window_jobs", s.jobsByWindow.toDouble, "count"))
    val untraced = Stats.median(untracedOpP50S)
    val overhead = Seq(
      ("trace.op_p50_s", opP50S, "s"),
      ("trace.untraced_op_p50_s", untraced, "s"),
      ("trace.overhead_frac", if (untraced > 0) opP50S / untraced - 1 else 0.0, "ratio"))
    session ++ sources ++ olap ++ ops ++ spans ++ overhead
  }

  /** Every span with its own and inclusive counters, for the trace file. */
  def spansJson(s: Summary): String = {
    def c(x: Counters) = Json.obj(Seq(
      "jobs" -> x.jobs.toString, "stages" -> x.stages.toString, "tasks" -> x.tasks.toString,
      "task_max_ms" -> x.taskMaxMs.toString, "task_p50_ms" -> Json.num(x.taskP50Ms),
      "gc_ms" -> x.gcMs.toString, "shuffle_read_bytes" -> x.shuffleRead.toString,
      "shuffle_write_bytes" -> x.shuffleWrite.toString, "spill_bytes" -> x.spill.toString,
      "listing_jobs" -> x.listingJobs.toString, "listing_ms" -> x.listingMs.toString))
    val spans = s.spans.map { st =>
      Json.obj(Seq("id" -> st.span.id.toString, "name" -> Json.str(st.span.name),
        "parent" -> st.span.parent.fold("null")(_.toString),
        "start_ms" -> st.span.startMs.toString, "end_ms" -> st.span.endMs.toString,
        "seconds" -> Json.num(st.span.seconds), "tail_ms" -> st.tailMs.toString,
        "last_job_ms" -> st.lastJobMs.toString,
        "internal_caches" -> st.span.caches.toString,
        "own" -> c(st.own), "inclusive" -> c(st.incl)))
    }
    Json.obj(Seq("spans" -> spans.mkString("[\n", ",\n", "\n]"),
      "unattributed" -> c(s.unattributed),
      "jobs_by_property" -> s.jobsByProperty.toString,
      "jobs_by_window" -> s.jobsByWindow.toString)) + "\n"
  }
}
