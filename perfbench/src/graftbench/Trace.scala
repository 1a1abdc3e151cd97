package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One Spark job as the scheduler reported it. */
final case class JobRec(op: Long, callSite: String, exec: Long, t0Ms: Long,
                        var t1Ms: Long = -1L) {
  def seconds: Double = if (t1Ms < 0) 0.0 else (t1Ms - t0Ms) / 1e3
  /** "localCheckpoint at Dedup.scala:301" -> "Dedup". */
  def sourceFile: String = Trace.SourceFile.findFirstMatchIn(callSite)
    .map(_.group(1)).getOrElse("other")
  def isCheckpoint: Boolean = callSite.startsWith("localCheckpoint")
}

/** Counters of one traced operation. */
final class OpStats {
  var stages, tasks = 0L
  var shuffleWrite, shuffleRead, spill, scanBytes, scanRecords, outBytes = 0L
  var qeCount = 0L
  var planMs = 0.0
  val writes = mutable.ArrayBuffer.empty[(String, Double)]
}

/** The traced run's listeners: a SparkListener for jobs, stages, tasks and
  * block storage, and a QueryExecutionListener for Catalyst phases and
  * writes. Both live in the benchmark; nothing in the engine changes.
  *
  * The client is single-threaded and closed-loop, and the listener bus is
  * drained at every operation boundary, so every event is counted against
  * the operation that was current when it was posted. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current: Long = -1L
  private var attached = false

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val ops = mutable.LinkedHashMap.empty[Long, OpStats]
  private val openJobs = mutable.HashMap.empty[Int, JobRec]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val execSite = mutable.HashMap.empty[Long, String]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L

  private def stats: Option[OpStats] =
    if (current < 0) None else Some(ops.getOrElseUpdate(current, new OpStats))

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  /** Run `body` as traced operation `op`, with the listeners attached
    * only for its duration. Block storage is counted from zero per
    * operation, so `storagePeak` is the most any one operation held. */
  def during[T](op: Long)(body: => T): T = {
    attach()
    synchronized { rddBlocks.clear(); storageNow = 0L }
    current = op
    try body
    finally {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      current = -1L
      detach()
    }
  }

  def jobsOf(op: Long): Seq[JobRec] = synchronized(jobs.filter(_.op == op).toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is the job's last; its name is the job's call site.
    // Jobs that adaptive execution starts from its own threads carry a
    // thread-pool frame there instead; those take the call site of the
    // SQL execution that started them.
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = if (Trace.PoolFrame.findFirstIn(own).isDefined) execSite.getOrElse(exec, own) else own
    val rec = JobRec(current, site, exec, e.time)
    if (current >= 0) {
      jobs += rec
      e.stageIds.foreach(stageOp(_) = current)
    }
    openJobs(e.jobId) = rec
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) =
        x.rootExecutionId.flatMap(execSite.get).getOrElse(x.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.t1Ms = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.remove(e.stageInfo.stageId).foreach(op =>
      ops.getOrElseUpdate(op, new OpStats).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).map(op => ops.getOrElseUpdate(op, new OpStats))
      .orElse(stats).foreach { s =>
        s.tasks += 1
        if (m != null) {
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.scanBytes += m.inputMetrics.bytesRead
          s.scanRecords += m.inputMetrics.recordsRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val size = info.memSize + info.diskSize
        storageNow += size - rddBlocks.getOrElse(id.name, 0L)
        if (size == 0) rddBlocks.remove(id.name) else rddBlocks(id.name) = size
        storagePeak = math.max(storagePeak, storageNow)
      case _ =>
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    rddBlocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
      storageNow -= rddBlocks.remove(k).getOrElse(0L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      stats.foreach { s =>
        s.qeCount += 1
        s.planMs += Trace.PlanPhases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        qe.commandExecuted.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w }
          .orElse(qe.analyzed.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w })
          .foreach(w => s.writes += (w.outputPath.getName.stripSuffix(".parquet") -> durationNs / 1e9))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Trace {
  val SourceFile = """at (\w+)\.(?:scala|java):\d+""".r
  val PlanPhases = Seq("analysis", "optimization", "planning")
  val PoolFrame = """(CompletableFuture|ThreadPoolExecutor|ForkJoin\w*)\.java""".r

  /** Seconds of `[t0, t1]` (ms) not covered by any job of `js`. */
  def idleMs(js: Seq[JobRec], t0: Long, t1: Long): Long = {
    val iv = js.filter(_.t1Ms >= 0).map(j => (math.max(j.t0Ms, t0), math.min(j.t1Ms, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0L, (t1 - t0) - covered)
  }
}
