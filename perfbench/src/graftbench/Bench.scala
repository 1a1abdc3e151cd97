package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed call into the engine. */
final case class OpRec(name: String, id: Long, traced: Boolean,
                       t0Ns: Long, t1Ns: Long, t0Ms: Long, t1Ms: Long) {
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** State shared by the workloads of one benchmark run: the session, the
  * optional tracer, the timed operations, the correctness tally and the
  * metrics to report. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  private var nextId = 0L
  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  private var gcExplicitMs = 0L

  /** Time `body` as one operation; traced when `traced` and the run traces. */
  def op[T](name: String, traced: Boolean)(body: Long => T): (T, OpRec) = {
    val id = { nextId += 1; nextId }
    val on = traced && trace.isDefined
    def timed(): (T, OpRec) = {
      val (m0, n0) = (System.currentTimeMillis(), System.nanoTime())
      val r = body(id)
      val (n1, m1) = (System.nanoTime(), System.currentTimeMillis())
      val rec = OpRec(name, id, on, n0, n1, m0, m1)
      ops += rec
      (r, rec)
    }
    if (on) trace.get.during(id)(timed()) else timed()
  }

  /** Seconds spent building DataFrames (graft calls that return a plan,
    * including the jobs they run eagerly), per operation id. */
  val buildS = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)

  /** Time `body` as build-side work of the current operation `id`. */
  def build[T](id: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally buildS(id) += (System.nanoTime() - t0) / 1e9
  }

  /** Record one checked operation outcome. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def expectEq[A](what: String, got: A, want: A): Boolean = {
    val ok = got == want
    if (!ok) failures += s"$what: got $got, want $want"
    ok
  }

  /** Live heap after a full collection, sampled at an operation boundary.
    * Collections repeat until the heap stops shrinking: each one lets
    * Spark's cleaner drop the blocks, broadcasts and shuffles of objects
    * that became unreachable, which the next one then frees. */
  def sampleHeap(): Unit = {
    val g0 = Jvm.gcMs
    var last = Double.MaxValue
    var now = { System.gc(); Jvm.heapUsedMb }
    var i = 0
    while (i < 6 && now < last - 1.0) {
      Thread.sleep(150)
      last = now
      System.gc()
      now = Jvm.heapUsedMb
      i += 1
    }
    gcExplicitMs += Jvm.gcMs - g0
    heapSamples += now
  }
  def heapPeakMb: Double = if (heapSamples.isEmpty) Jvm.heapUsedMb else heapSamples.max
  /** GC time excluding the collections `sampleHeap` forced. */
  def gcSeconds(sinceMs: Long): Double = (Jvm.gcMs - sinceMs - gcExplicitMs) / 1e3

  def traceOn(i: Int): Boolean = trace.isDefined && i % 2 == 0

  /** Run units until the measured seconds are used up, and at least
    * `minUnits`; a traced run takes at least two, so it has a traced and
    * an untraced one. */
  def measure[T](minUnits: Int = 1)(unit: Int => T): Seq[T] = {
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    val min = math.max(minUnits, if (trace.isDefined) 2 else 1)
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < min || System.nanoTime() < end) out += unit(out.size)
    out.toSeq
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.NON_HEAP && p.getName.startsWith("CodeHeap"))
    .map(_.getUsage.getUsed).sum / 1048576.0
}

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def q(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

final case class Args(workload: String, seed: Long, seconds: Double, traced: Boolean,
                      data: String, work: String, out: String, cpus: Int)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}
