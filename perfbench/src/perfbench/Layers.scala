package perfbench

/** The per-layer metrics of a traced run. Every workload prints all of
  * them; a layer the workload never enters reads 0, which is itself the
  * prediction (no shuffle or connected-components work in trade_batch). */
object Layers {
  /** Spans placed around the calls into each layer, by module. */
  val spans: Seq[String] = Seq(
    // trade_batch
    "pipeline.etl", "etl.validate", "features.build", "etl.split",
    "sources.stage_write", "pipeline.autotrader", "store.views", "store.audit",
    // corpus_curation
    "queries.q127_compose", "queries.q137_report", "queries.q90_pairs",
    "operators.cc", "operators.cc_stars", "queries.q125_contamination",
    // live_stream: one span per micro-batch, from addData to the return
    // of processAllAvailable
    "streaming.batch")

  private val spanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_s" -> "s", "shuffle_mb" -> "MB",
    "sched_share" -> "ratio")

  /** Counters recorded at span boundaries, summed per trace. */
  val counters: Seq[(String, String)] = Seq(
    "forecast.forecast_one_ms" -> "ms", "forecast.calls" -> "count",
    "forecast.kernel_s" -> "s",
    "sources.stage_files" -> "count", "sources.stage_mb" -> "MB",
    "queries.q90_pairs.rows" -> "count", "operators.cc_rounds" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "sources.sink_files_per_batch" -> "count",
    "sources.sink_mb_per_batch" -> "MB")

  private val derived: Seq[(String, String)] = Seq(
    "spark.jobs_per_batch" -> "count", "spark.job_overhead_ms" -> "ms",
    "spark.spill_mb" -> "MB", "streaming.batch_tail_ms" -> "ms", "streaming.tail_percentile" -> "percent",
    "streaming.batch_samples" -> "count", "trace.overhead_s" -> "s",
    "trace.child_gap_share" -> "ratio")

  /** Every per-layer metric name with its unit, in print order. */
  val all: Seq[(String, String)] =
    spans.flatMap(s => spanFields.map { case (f, u) => s"$s.$f" -> u }) ++ counters ++ derived

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Medians over the traces that hold each span or counter. `passes` are
    * the traces of timed passes; probe traces count for their own spans. */
  def metrics(tr: Tracer, passes: Seq[Int], jobOverheadMs: Double,
      overheadS: Double, opsMs: Seq[Double]): Seq[(String, Double, String)] = {
    val traces = tr.spans.map(_.trace).distinct.toSeq
    val bySpan: Map[String, Seq[Map[String, Double]]] = spans.map { name =>
      name -> traces.flatMap { t =>
        val ss = tr.ofTrace(t).filter(_.name == name)
        if (ss.isEmpty) None
        else {
          val wall = ss.map(_.wallS).sum
          val jobs = ss.map(_.jobs).sum.toDouble
          Some(Map("wall_s" -> wall, "jobs" -> jobs, "task_s" -> ss.map(_.taskS).sum,
            "shuffle_mb" -> ss.map(_.shuffleMb).sum,
            "sched_share" -> (if (wall > 0) jobs * jobOverheadMs / 1e3 / wall else 0.0)))
        }
      }
    }.toMap
    val spanVals = spans.flatMap { s =>
      spanFields.map { case (f, u) => (s"$s.$f", med(bySpan(s).map(_(f))), u) }
    }
    val counterVals = counters.map { case (k, u) =>
      val per = traces.flatMap { t =>
        val vs = tr.ofTrace(t).flatMap(_.attrs.get(k))
        if (vs.isEmpty) None else Some(vs.sum)
      }
      (k, med(per), u)
    }
    val batches = tr.spans.filter(_.name == "streaming.batch")
    val (tailPct, tailMs) = if (opsMs.isEmpty) (0.0, 0.0) else Stats.tail(opsMs)
    val derivedVals = Seq(
      med(batches.map(_.jobs.toDouble).toSeq),
      jobOverheadMs,
      med(passes.map(t => tr.ofTrace(t).map(_.spillMb).sum)),
      tailMs,
      tailPct,
      opsMs.size.toDouble,
      overheadS,
      med(passes.map(tr.childGap)))
    val units = derived.map(_._2)
    spanVals ++ counterVals ++ derived.map(_._1).lazyZip(derivedVals).lazyZip(units).toSeq
  }
}
