package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point. `perfbench/run.py` builds the classpath and
  * launches this with a pinned heap; it prints, in order, an `env` line, a
  * `detail` line, and as its last line the result object
  * `{"correct", "attempted", "failed", "metrics"}` (end-to-end metrics
  * untraced, per-layer metrics traced). */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "etl_daily" -> perfbench.Workloads.etlDaily,
    "curation_ingest" -> perfbench.Workloads.curationIngest)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath,
      m.get("corrupt").contains("1"))
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case other => json(other.toString)
  }

  private def metrics(ms: scala.collection.Map[String, (Double, String)]): Map[String, Any] =
    scala.collection.immutable.ListMap(ms.toSeq.map { case (k, (v, u)) =>
      k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val run = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(s"unknown workload ${opts.workload}"))
    Files.createDirectories(opts.work)
    Files.createDirectories(opts.out)
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, sessionS) = Stats.timed(graft.core.GraftSession.local(cpus))
    val ctx = new Ctx(opts, spark, sessionS)
    try run(ctx)
    catch {
      case e: Throwable =>
        // a workload that cannot finish is a failed run, not a result
        e.printStackTrace()
        sys.exit(3)
    }
    ctx.endToEnd("rss_peak_mb") = (Jvm.rssPeakMb, "MB")

    val env = scala.collection.immutable.ListMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "orders" -> opts.orders, "sf" -> opts.orders / 1500000.0,
      "docs_per_batch" -> opts.docsPerBatch, "setup_reps" -> opts.setupReps,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    val tag = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    if (opts.trace) {
      val spans = opts.out.resolve(s"spans-$tag.jsonl")
      ctx.tracer.writeJsonl(spans)
      ctx.info("spans_file") = spans.toString
      ctx.info("self_time_s") = ctx.tracer.selfTimes.map { case (k, v) => k -> f"$v%.4f" }
    }
    if (ctx.problems.nonEmpty) ctx.problems.foreach(p => System.err.println(s"[check] $p"))
    val result = scala.collection.immutable.ListMap[String, Any](
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics(if (opts.trace) ctx.perLayer else ctx.endToEnd))
    val lines = Seq(
      json(Map("env" -> env)),
      json(Map("detail" -> ctx.info, "end_to_end" -> metrics(ctx.endToEnd))),
      json(result))
    Files.write(opts.out.resolve(s"result-$tag.json"),
      java.util.Arrays.asList(lines: _*))
    lines.foreach(println)
    spark.stop()
  }
}
