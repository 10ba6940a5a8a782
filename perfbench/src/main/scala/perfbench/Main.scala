package perfbench

/** One benchmark run. `run.py` is the user-facing command; it builds
  * this program, launches it with a private work directory and turns the
  * result file it writes into the printed result.
  *
  * Arguments: --workload catalog|serve|pipeline --seed N --seconds S
  * --trace 0|1 --work DIR --data DIR --pins FILE --result FILE
  * [--spans FILE]. Workload `pin` re-derives the catalog pins (see
  * `pin_catalog.py`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("work"), opt("data"), cores, opt("pins"))
    val res = new Result
    Layers.all.foreach { case (n, _) => res.perLayer(n) = 0.0 }
    ctx.workload match {
      case "catalog" => Catalog.run(ctx, res)
      case "serve" => Serve.run(ctx, res)
      case "pipeline" => Pipeline.run(ctx, res)
      case "pin" => Catalog.pin(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (ctx.traced) opt.get("spans").foreach(ctx.tracer.write)
    val out = Json.obj(Seq(
      "workload" -> ctx.workload, "seed" -> ctx.seed,
      "seconds" -> ctx.seconds, "trace" -> ctx.traced,
      "e2e" -> res.e2e.toMap,
      "named" -> res.named.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> (if (ctx.traced) res.perLayer.toMap else Map.empty),
      "self_ms" -> (if (ctx.traced) Common.selfTimes(ctx.tracer) else Map.empty),
      "ops" -> res.ops, "failed_ops" -> res.failed,
      "failures" -> res.failures.toSeq) ++ res.extra.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")), out)
  }
}
