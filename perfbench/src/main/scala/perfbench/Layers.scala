package perfbench

/** Per-layer metrics of a traced run, per client operation. The split
  * follows the fixed-overhead-versus-compute view: the wall time of an
  * operation is Spark job time, Catalyst planning time, and the residual
  * the driver spent outside both (table-format metadata work: log and
  * manifest replay, listings, footer reads, commit IO, session clones). */
object Layers {

  def perLayer(tracer: Tracer, ops: Seq[Op], elapsedS: Double, gcS: Double,
      heapPeakMb: Double): Seq[(String, Double, String)] = {
    val spans = tracer.recorded
    val att = Trace.attribute(spans, tracer.jobEvents, tracer.planEvents)
    val n = math.max(1, spans.size).toDouble
    def total(f: Attributed => Double): Double = att.values.map(f).sum
    val wallMs = spans.map(_.dur).sum
    val jobMs = total(_.jobMs)
    val planMs = total(_.planMs)
    val residualMs = total(_.selfMs)
    val ok = ops.filter(_.ok).map(_.ms)
    Seq(
      ("spark.jobs_per_op", total(_.jobs.toDouble) / n, "count"),
      ("spark.tasks_per_op", total(_.tasks.toDouble) / n, "count"),
      ("spark.job_s_per_op", jobMs / 1000.0 / n, "s"),
      ("spark.shuffle_mb_per_op", total(_.shuffleBytes.toDouble) / 1048576.0 / n, "MB"),
      ("catalyst.plan_s_per_op", planMs / 1000.0 / n, "s"),
      ("driver.residual_s_per_op", residualMs / 1000.0 / n, "s"),
      ("driver.residual_share", if (wallMs > 0) residualMs / wallMs else 0.0, "ratio"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("traced.op_geomean_ms", if (ok.nonEmpty) Stats.geomean(ok) else Double.NaN, "ms"),
      ("traced.ops_per_s", ok.size / elapsedS, "1/s"),
    )
  }
}
