package graftbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.SparkEntry

/** query_suite: a fixed list of registered queries over generated
  * TPC-H-shaped tables, run in complete rounds, each round in a
  * seed-shuffled order. One operation is one query: build the DataFrame
  * through SparkEntry.queries, then run it into a noop sink.
  *
  * Correctness is checked once per run, outside the timed rounds: each
  * query's result is written as parquet next to its DuckDB oracle SQL,
  * and the caller compares the two. */
object QuerySuite {
  val Families: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q203_tpch_q5", "q204_tpch_q10", "q208_tpch_q3", "q227_tpch_q4",
      "q231_tpch_q13"),
    "capstone" -> Seq("q01_pricing_summary", "q03_join_revenue", "q09_null_profile",
      "q16_fk_integrity"),
    "sql" -> Seq("q38_sql_surface", "q118_recursive_cte"),
    "streaming" -> Seq("q35_stream_window", "q87_session_window"),
    "dsv2" -> Seq("q85_dsv2_range"),
    "graph" -> Seq("q133_pagerank", "q291_label_prop", "q439_louvain_levels"),
    "heavy" -> Seq("q369_setsim_join", "q447_containment_families", "q479_shard_collisions"))

  val names: Seq[String] = Families.flatMap(_._2)
  val familyOf: Map[String, String] = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val outDir = s"${a.work}/query_out"

    // check pass (also the warm-up): one result per query, for the oracle
    val broken = names.filter { q =>
      try {
        val t0 = System.nanoTime()
        registry(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        System.err.println(f"[graftbench] checked $q in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        false
      } catch {
        case e: Throwable =>
          ctx.failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          true
      }
    }.toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      names.map(q => s"${Json.str(q)}: ${Json.str(oracles.getOrElse(q, ""))}")
        .mkString("{", ", ", "}"))
    // one more untimed round, so the JIT has seen every plan twice
    names.filterNot(broken).foreach { q =>
      try registry(q)(spark, a.data).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    ctx.sampleHeap()

    // complete rounds until the time is used; enough for a p90 with ten
    // samples beyond it
    val minRounds = math.ceil(100.0 / names.size).toInt
    val rounds = ctx.measure(minRounds) { round =>
      val order = new Random(a.seed * 1000 + round).shuffle(names)
      val execs = order.zipWithIndex.map { case (q, i) =>
        val (ok, rec) = ctx.op(q, ctx.traceOn(round + i)) { id =>
          try {
            val df = ctx.build(id)(registry(q)(spark, a.data))
            df.write.format("noop").mode("overwrite").save()
            true
          } catch {
            case e: Throwable =>
              ctx.failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
              false
          }
        }
        ctx.check(q, ok && !broken(q))
        rec
      }
      ctx.sampleHeap()
      execs
    }
    val execs = rounds.flatten
    // per-query executions, so the caller can fail every run of a query
    // whose checked result disagrees with its oracle
    ctx.extra("executions") = names.map(q => s"${Json.str(q)}: ${execs.count(_.name == q)}")
      .mkString("{", ", ", "}")
    ctx.extra("family_p50_s") = Families.map { case (f, _) =>
      s"${Json.str(f)}: ${Json.num(Stats.median(execs.filter(e => familyOf(e.name) == f).map(_.seconds)))}"
    }.mkString("{", ", ", "}")
    ctx.extra("round_s") = rounds.map(r => Json.num(r.map(_.seconds).sum)).mkString("[", ", ", "]")

    def qps(es: Seq[OpRec]) = es.size / es.map(_.seconds).sum
    val untraced = execs.filterNot(_.traced)
    ctx.e2e("items_per_s") = (qps(untraced), "1/s")
    ctx.e2e("op_p50_s") = (Stats.median(untraced.map(_.seconds)), "s")
    // p90 over at least 100 samples, so ten lie beyond it
    ctx.extra("p90_s") = Json.num(Stats.q(untraced.map(_.seconds), 0.9))

    ctx.trace.foreach { _ =>
      val traced = execs.filter(_.traced)
      Layers.common(ctx, traced.map(Seq(_)))
      Layers.overhead(ctx, "items_per_s", qps(traced), qps(untraced), "1/s")
      Layers.overhead(ctx, "op_p50_s", Stats.median(traced.map(_.seconds)),
        Stats.median(untraced.map(_.seconds)), "s")
    }
  }
}
