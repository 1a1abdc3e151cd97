package graftbench

import org.apache.spark.sql.functions._

import graft.pipelines.CurationPipeline

/** curation_corpus: CurationPipeline.run with program defaults on a
  * generated corpus with planted duplicates, its packed output sent to a
  * noop sink. Every pass is checked: the funnel never grows, exact_dedup
  * equals the distinct normalized-text count that plain Spark computes,
  * and the funnel is the same in every pass. */
object CurationCorpus {
  final case class Pass(rec: OpRec, funnel: Seq[(String, Long)])

  /** Jobs the funnel's per-stage count issues; their ends split a pass
    * into stages. */
  val StageBoundary = "collect at CurationPipeline.scala"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val m = Manifest.load(s"${a.data}/manifest.json")
    val nDocs = Manifest.long(m \ "docs")
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
    val distinct = docs.select(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
      .distinct().count()
    val distinctOk = ctx.expectEq("distinct normalized texts (plain Spark vs manifest)",
      distinct, Manifest.long(m \ "distinct_normalized"))
    var first = Option.empty[Seq[(String, Long)]]

    def pass(traced: Boolean): Pass = {
      val (funnel, rec) = ctx.op("run+sink", traced) { id =>
        val (packed, funnel) = ctx.build(id)(CurationPipeline.run(spark, docs))
        packed.write.format("noop").mode("overwrite").save()
        funnel.map(r => r.stage -> r.docs)
      }
      val counts = funnel.map(_._2)
      val ok = Seq(
        distinctOk,
        ctx.expectEq("funnel input", counts.headOption, Some(nDocs)),
        ctx.expectEq("funnel never increases",
          counts.zip(counts.drop(1)).forall { case (x, y) => y <= x }, true),
        ctx.expectEq("exact_dedup", funnel.toMap.get("exact_dedup"), Some(distinct)),
        ctx.expectEq("funnel equal across passes", funnel, first.getOrElse(funnel))
      ).forall(identity)
      ctx.check("curation pass", ok)
      if (first.isEmpty) first = Some(funnel)
      Pass(rec, funnel)
    }

    pass(traced = false) // warm-up
    ctx.sampleHeap()
    val passes = ctx.measure() { i =>
      val p = pass(ctx.traceOn(i))
      ctx.sampleHeap()
      p
    }

    def docsPerS(ps: Seq[Pass]) = nDocs / Stats.median(ps.map(_.rec.seconds))
    val untraced = passes.filterNot(_.rec.traced)
    ctx.e2e("items_per_s") = (docsPerS(untraced), "1/s")
    ctx.e2e("op_p50_s") = (Stats.median(untraced.map(_.rec.seconds)), "s")
    ctx.extra("pass_s") = passes.map(p => Json.num(p.rec.seconds)).mkString("[", ", ", "]")
    ctx.extra("funnel") = first.getOrElse(Nil)
      .map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")

    ctx.trace.foreach { t =>
      val traced = passes.filter(_.rec.traced)
      Layers.common(ctx, traced.map(p => Seq(p.rec)))
      Layers.overhead(ctx, "items_per_s", docsPerS(traced), docsPerS(untraced), "1/s")
      Layers.overhead(ctx, "op_p50_s", Stats.median(traced.map(_.rec.seconds)),
        Stats.median(untraced.map(_.rec.seconds)), "s")
      // per-stage seconds: from the end of one stage's count to the next
      val perStage = traced.flatMap { p =>
        val ends = t.jobsOf(p.rec.id).filter(_.callSite.startsWith(StageBoundary))
          .groupBy(_.exec).values.map(_.map(_.t1Ms).max).toSeq.sorted
        if (ends.size != p.funnel.size) Nil
        else {
          val starts = p.rec.t0Ms +: ends.dropRight(1)
          p.funnel.map(_._1).zip(ends.zip(starts).map { case (e, s) => (e - s) / 1e3 }) :+
            ("pack_sink" -> (p.rec.t1Ms - ends.last) / 1e3)
        }
      }
      perStage.groupBy(_._1).foreach { case (stage, xs) =>
        ctx.layer(s"curation.stage.$stage.s") = (Stats.median(xs.map(_._2)), "s")
      }
      val f = first.getOrElse(Nil)
      f.zip(nDocs +: f.map(_._2)).foreach { case ((stage, out), in) =>
        ctx.layer(s"curation.stage.$stage.kept_ratio") =
          (if (in > 0) out.toDouble / in else 0.0, "ratio")
      }
    }
  }
}
