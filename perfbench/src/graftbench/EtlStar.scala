package graftbench

import java.io.File

import org.json4s._

import graft.etl.CapstonePipeline

/** etl_star: repeated cycles of what RunCapstone does, on generated I94
  * inputs at the reference's size. Every cycle is checked against the
  * generator's manifest: row counts, FK orphan counts, the duplicate
  * admnum count, the calendar dates and the example query's totals. */
object EtlStar {
  val WarmupCycles = 2

  final case class Cycle(recs: Seq[OpRec], traced: Boolean, filesWritten: Int) {
    def s(step: String): Double = recs.find(_.name == step).map(_.seconds).getOrElse(0.0)
    def gate: Double = s("qualityReport") + s("exampleQuery")
    def total: Double = recs.map(_.seconds).sum
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val m = Manifest.load(s"${a.data}/manifest.json")
    val factRows = Manifest.long(m \ "fact_rows")
    val want: Map[String, Long] =
      Manifest.longs(m \ "rows").map { case (k, v) => s"rows:$k" -> v } ++
      Manifest.longs(m \ "orphans").map { case (k, v) => s"orphans:$k" -> v }
    val out = s"${a.work}/etl_out"

    def cycle(traced: Boolean): Cycle = {
      val (dups, r1) = ctx.op("duplicateAdmnumCount", traced)(_ =>
        CapstonePipeline.duplicateAdmnumCount(spark, s"${a.data}/sas_data"))
      val (_, r2) = ctx.op("run", traced)(_ => CapstonePipeline.run(spark, a.data, out))
      val (staged, r3) = ctx.op("readData", traced)(id =>
        ctx.build(id)(CapstonePipeline.readData(spark, out)))
      val (report, r4) = ctx.op("qualityReport", traced)(id =>
        ctx.build(id)(CapstonePipeline.qualityReport(spark, staged)).collect())
      val (example, r5) = ctx.op("exampleQuery", traced)(id =>
        ctx.build(id)(CapstonePipeline.exampleQuery(staged)).collect())

      val got = report.map(r => r.getString(0) -> r.getLong(1)).toMap
      val dates = staged.calendar.select("arrival_date").collect().map(_.get(0).toString).sorted.toSeq
      val ok = Seq(
        ctx.expectEq("duplicate admnum rows", dups, Manifest.long(m \ "duplicate_admnum")),
        ctx.expectEq("quality report", got, want),
        ctx.expectEq("calendar dates", dates, Manifest.strings(m \ "calendar_dates")),
        ctx.expectEq("example query groups", example.length.toLong, Manifest.long(m \ "example_groups")),
        ctx.expectEq("example query immigrants", example.map(_.getLong(2)).sum,
          Manifest.long(m \ "example_immigrants"))).forall(identity)
      ctx.check("etl cycle", ok)
      val files = Option(new File(out).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten).count(_.getName.startsWith("part-"))
      Cycle(Seq(r1, r2, r3, r4, r5), traced, files)
    }

    // warm-up: JIT, codegen, file listing caches. Cycle times still fell
    // by 10-20 % over the first few cycles after a single warm-up cycle.
    (1 to WarmupCycles).foreach(_ => cycle(traced = false))
    ctx.sampleHeap()
    val cycles = ctx.measure() { i =>
      val c = cycle(ctx.traceOn(i))
      ctx.sampleHeap()
      c
    }

    def rowsPerS(cs: Seq[Cycle]) = Stats.median(cs.map(c => factRows / c.s("run")))
    val untraced = cycles.filterNot(_.traced)
    ctx.e2e("items_per_s") = (rowsPerS(untraced), "1/s")
    ctx.e2e("op_p50_s") = (Stats.median(untraced.map(_.total)), "s")
    ctx.extra("cycle_s") = cycles.map(c => Json.num(c.total)).mkString("[", ", ", "]")
    ctx.extra("run_s") = cycles.map(c => Json.num(c.s("run"))).mkString("[", ", ", "]")

    ctx.trace.foreach { t =>
      val traced = cycles.filter(_.traced)
      Layers.common(ctx, traced.map(_.recs))
      Layers.overhead(ctx, "items_per_s", rowsPerS(traced), rowsPerS(untraced), "1/s")
      Layers.overhead(ctx, "op_p50_s", Stats.median(traced.map(_.total)),
        Stats.median(untraced.map(_.total)), "s")
      val runs = traced.flatMap(_.recs.filter(_.name == "run"))
      val bytes = Stats.median(runs.map(r => t.ops.get(r.id).map(_.outBytes.toDouble).getOrElse(0.0)))
      ctx.layer("etl.stage_s") = (Stats.median(runs.map(_.seconds)), "s")
      ctx.layer("etl.gate_s") = (Stats.median(traced.map(_.gate)), "s")
      ctx.layer("etl.bytes_written") = (bytes, "B")
      ctx.layer("etl.files_written") = (Stats.median(traced.map(_.filesWritten.toDouble)), "count")
      ctx.layer("etl.write_amp") = (bytes / Manifest.long(m \ "input_bytes"), "ratio")
      val writes = runs.flatMap(r => t.ops.get(r.id).toSeq.flatMap(_.writes))
      writes.groupBy(_._1).foreach { case (table, ws) =>
        ctx.layer(s"etl.write.$table.s") = (Stats.median(ws.map(_._2)), "s")
      }
      val quality = traced.flatMap(_.recs.filter(_.name == "qualityReport"))
      ctx.layer("quality.s") = (Stats.median(quality.map(_.seconds)), "s")
      ctx.layer("quality.jobs") = (Stats.median(quality.map(r => t.jobsOf(r.id).size.toDouble)), "count")
    }
  }
}

/** The generator's manifest.json, read with the json4s Spark ships. */
object Manifest {
  import org.json4s.jackson.JsonMethods
  def load(path: String): JValue =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
  def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d.toLong
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }
  def longs(v: JValue): Map[String, Long] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> long(x) }.toMap
    case other => throw new IllegalArgumentException(s"not an object: $other")
  }
  def strings(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.collect { case JString(s) => s }
    case other => throw new IllegalArgumentException(s"not an array: $other")
  }
}
