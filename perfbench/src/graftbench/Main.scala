package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark runner: one closed-loop client calling graft's public API.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --out FILE [--cpus C]
  *
  * Sets the session up several times (setup_s is their median), runs
  * workload W for S measured seconds over the inputs in DIR, checks every
  * output, and writes one JSON object of metrics and check results to
  * FILE. With --trace 1 it registers the benchmark's listeners, alternates
  * traced and untraced operations, and adds the per-layer metrics. */
object Main {
  val SetupReps = 7

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  /** Create the session and run the warm-up action `SetupReps` times;
    * returns the last session and the (create, warm-up) seconds of each. */
  def setup(cpus: Int): (SparkSession, Seq[(Double, Double)]) = {
    var spark: SparkSession = null
    val times = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus)
      val t1 = System.nanoTime()
      spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      if (i < SetupReps) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    (spark, times)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val (spark, setups) = setup(args.cpus)
    val trace = if (args.traced) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, args, trace)
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()

    args.workload match {
      case "etl_star"        => EtlStar.run(ctx)
      case "curation_corpus" => CurationCorpus.run(ctx)
      case "query_suite"     => QuerySuite.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    ctx.extra("workload_wall_s") = Json.num((System.nanoTime() - t0) / 1e9)
    ctx.extra("setup_wall_s") = Json.num(setups.map(s => s._1 + s._2).sum)
    ctx.e2e("setup_s") = (Stats.median(setups.map(s => s._1 + s._2)), "s")
    ctx.e2e("heap_peak_mb") = (ctx.heapPeakMb, "MB")
    if (args.traced) {
      ctx.layer("session.create_s") = (Stats.median(setups.map(_._1)), "s")
      ctx.layer("session.warmup_s") = (Stats.median(setups.map(_._2)), "s")
      ctx.layer("jvm.gc_s") = (ctx.gcSeconds(gc0), "s")
      ctx.layer("jvm.codecache_mb") = (Jvm.codeCacheMb, "MB")
      val p0 = System.nanoTime()
      Kernels.probe(ctx)
      ctx.extra("probe_wall_s") = Json.num((System.nanoTime() - p0) / 1e9)
    }
    trace.foreach(_.detach())

    val out =
      s"""{"workload": ${Json.str(args.workload)}, "seed": ${args.seed}, """ +
      s""""attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""failures": ${ctx.failures.take(20).map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""ops": ${ctx.ops.size}, "e2e": ${Json.metrics(ctx.e2e)}, """ +
      s""""layer": ${Json.metrics(ctx.layer)}, """ +
      s""""extra": ${ctx.extra.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")}}"""
    Files.writeString(Paths.get(args.out), out)
    spark.stop()
  }
}
