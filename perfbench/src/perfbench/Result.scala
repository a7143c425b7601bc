package perfbench

/** The run's result file, read by `run.py`. */
object Result {
  def build(ctx: Ctx, wl: Workload, setupS: Double, probe: Map[String, Double],
      phases: Map[String, Double]): String = {
    val rec = ctx.rec
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_ms" -> (rec.opMs(traced = false), "ms"),
      "work_per_s" -> (wl.workDone / rec.busyS, "1/s"))
    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        val self = ctx.tracer.selfByLayer.map { case (k, v) => s"self_ms.$k" -> v }
        wl.layers() ++ probe ++ self +
          ("trace.overhead_ms" -> rec.tracingOverheadMs)
      }
    val kinds = rec.kinds.map { k =>
      val xs = rec.of(k, traced = false)
      k -> Json.obj(Seq("n" -> xs.size.toString, "p50_ms" -> Json.num(Stats.median(xs)),
        "p90_ms" -> Json.num(Stats.quantile(xs, 0.9)), "ms" -> Json.arr(xs.map(Json.num))))
    }
    if (ctx.tracer.enabled)
      ctx.tracer.writeJsonl(ctx.args.out.stripSuffix(".json") + ".spans.jsonl")
    Json.obj(Seq(
      "correct" -> (ctx.checks.failed == 0).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> ctx.checks.failed.toString,
      "messages" -> Json.arr(ctx.checks.messages.map(Json.str).toSeq),
      "phases" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "wall_s" -> Json.num(rec.wallS),
      "e2e" -> Json.obj(e2e.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "report" -> Json.arr(wl.report().map { case (n, v, u) =>
        Json.arr(Seq(Json.str(n), Json.num(v), Json.str(u))) }),
      "kinds" -> Json.obj(kinds),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }
}
