package graftbench

/** Per-layer metrics shared by every workload, computed from the traced
  * operations. A unit is one operation of the workload (an ETL cycle, a
  * curation pass, one query) and may span several timed calls; counts
  * are reported per unit so runs of different lengths compare. */
object Layers {

  /** Operator source files whose jobs are reported by name; jobs started
    * from any other file are summed under `op.other`. */
  val OperatorFiles = Seq(
    "CapstonePipeline", "Checks", "CurationPipeline", "Dedup", "SubstringDedup",
    "Winnowing", "ConnectedComponents", "IvfPq", "Louvain", "PageRank",
    "SetSimilarityJoin", "LocalProbe")

  def common(ctx: Ctx, units: Seq[Seq[OpRec]]): Unit = {
    val t = ctx.trace.get
    val n = math.max(1, units.size).toDouble
    val recs = units.flatten
    val jobs = recs.flatMap(r => t.jobsOf(r.id))
    val stats = recs.flatMap(r => t.ops.get(r.id))
    val wallS = recs.map(_.seconds).sum
    val idleS = recs.map(r => Trace.idleMs(t.jobsOf(r.id), r.t0Ms, r.t1Ms)).sum / 1e3
    def put(k: String, v: Double, u: String): Unit = ctx.layer(k) = (v, u)
    def sum(f: OpStats => Double): Double = stats.map(f).sum

    val buildS = recs.map(r => ctx.buildS(r.id)).sum
    put("query.build_s", buildS / n, "s")
    put("query.build_share", if (wallS > 0) buildS / wallS else 0.0, "ratio")
    put("catalyst.plan_s", sum(_.planMs) / 1e3 / n, "s")
    put("catalyst.qe_count", sum(_.qeCount.toDouble) / n, "count")

    put("sched.jobs", jobs.size / n, "count")
    put("sched.stages", sum(_.stages.toDouble) / n, "count")
    put("sched.tasks", sum(_.tasks.toDouble) / n, "count")
    put("sched.jobs_per_s", if (wallS > 0) jobs.size / wallS else 0.0, "1/s")
    put("sched.job_busy_s", (wallS - idleS) / n, "s")
    put("sched.driver_idle_s", idleS / n, "s")
    put("sched.idle_share", if (wallS > 0) idleS / wallS else 0.0, "ratio")

    put("shuffle.write_bytes", sum(_.shuffleWrite.toDouble) / n, "B")
    put("shuffle.read_bytes", sum(_.shuffleRead.toDouble) / n, "B")
    put("shuffle.spill_bytes", sum(_.spill.toDouble) / n, "B")
    put("scan.bytes_read", sum(_.scanBytes.toDouble) / n, "B")
    put("scan.records_read", sum(_.scanRecords.toDouble) / n, "count")

    val ckpt = jobs.filter(_.isCheckpoint)
    put("mat.ckpt_jobs", ckpt.size / n, "count")
    put("mat.ckpt_s", ckpt.map(_.seconds).sum / n, "s")
    put("mat.storage_peak_bytes", t.storagePeak.toDouble, "B")

    ctx.extra("top_call_sites") = jobs.groupBy(_.callSite).toSeq
      .map { case (site, js) => site -> js.map(_.seconds).sum }.sortBy(-_._2).take(8)
      .map { case (site, s) => s"${Json.str(site)}: ${Json.num(s / n)}" }.mkString("{", ", ", "}")

    val byFile = jobs.groupBy { j =>
      val f = j.sourceFile
      if (OperatorFiles.contains(f)) f else "other"
    }
    (OperatorFiles :+ "other").foreach { f =>
      val js = byFile.getOrElse(f, Nil)
      put(s"op.$f.job_s", js.map(_.seconds).sum / n, "s")
      put(s"op.$f.jobs", js.size / n, "count")
    }
  }

  /** Tracing overhead: the traced run alternates traced and untraced
    * units; each end-to-end quantity over the traced units minus the
    * same over the untraced ones. */
  def overhead(ctx: Ctx, name: String, traced: Double, untraced: Double, unit: String): Unit =
    ctx.layer(s"trace.overhead.$name") = (traced - untraced, unit)
}
