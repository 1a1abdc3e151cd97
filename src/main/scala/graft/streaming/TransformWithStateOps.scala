package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Spark 4 `transformWithState` surface — the arbitrary-state API that
  * replaces flatMapGroupsWithState (SPARK-46815): typed ValueState /
  * MapState handles backed by the RocksDB state store, per-state TTL,
  * and timers, all declared inside a [[StatefulProcessor]].
  *
  * The operator here keeps a per-user running profile: a ValueState
  * with (count, sum) plus a MapState of per-event-type counts — the
  * canonical "billions of keys, bounded per-key state" streaming shape
  * (RocksDB spills state off-heap; TTL would bound it in production —
  * the finite drain here uses TTLConfig.NONE so the final emission
  * equals the batch aggregate, which is the DuckDB oracle).
  */
object TransformWithStateOps extends Serializable {

  final case class EventIn(user_id: Long, event_type: String, value: Double)
  final case class UserAgg(n: Long, sum: Double)
  final case class UserOut(user_id: Long, n_events: Long, sum_value: Double,
                           n_types: Int)

  /** Per-user running (count, sum, distinct-type-count). Emits the
    * updated profile once per key per micro-batch it received data in —
    * emissions are monotone in n_events, so the final profile is the
    * max-n_events row per key however the input is micro-batched. */
  class RunningUserProfile extends StatefulProcessor[Long, EventIn, UserOut] {
    @transient private var agg: ValueState[UserAgg]        = _
    @transient private var types: MapState[String, Long]   = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[UserAgg]("agg",
        Encoders.product[UserAgg], TTLConfig.NONE)
      types = getHandle.getMapState[String, Long]("types",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
                                 timers: TimerValues): Iterator[UserOut] = {
      var a = if (agg.exists()) agg.get() else UserAgg(0L, 0.0)
      rows.foreach { r =>
        a = UserAgg(a.n + 1, a.sum + r.value)
        val prev = if (types.containsKey(r.event_type)) types.getValue(r.event_type) else 0L
        types.updateValue(r.event_type, prev + 1)
      }
      agg.update(a)
      Iterator.single(UserOut(key, a.n, a.sum, types.keys().size))
    }
  }

  /** [[RunningUserProfile]] with BATCH-BOOTSTRAPPED state
    * (StatefulProcessorWithInitialState): production streams rarely
    * start cold — yesterday's batch aggregate seeds per-key state via
    * handleInitialState before the first micro-batch, and the stream
    * continues from there (the lambda-architecture handoff, state-native).
    * Initial rows arrive as (user_id, n_events, sum_value) tuples. */
  class SeededUserProfile
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, EventIn, UserOut, (Long, Long, Double)] {
    @transient private var agg: ValueState[UserAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[UserAgg]("agg",
        Encoders.product[UserAgg], TTLConfig.NONE)

    override def handleInitialState(key: Long, initial: (Long, Long, Double),
                                    timers: TimerValues): Unit =
      agg.update(UserAgg(initial._2, initial._3))

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
                                 timers: TimerValues): Iterator[UserOut] = {
      var a = if (agg.exists()) agg.get() else UserAgg(0L, 0.0)
      rows.foreach(r => a = UserAgg(a.n + 1, a.sum + r.value))
      agg.update(a)
      Iterator.single(UserOut(key, a.n, a.sum, 0))
    }
  }

  final case class TopOut(user_id: Long, rank: Int, value: Double)

  /** Streaming per-key top-k via [[ListState]] (the third state type,
    * after ValueState and MapState): the retained list is CAPPED at k
    * — put() replaces it with the merged-and-truncated top-k each
    * batch, so state stays O(k) per key on an infinite stream (the
    * streaming twin of the batch TopK Aggregator). Emits the current
    * ranking per key per batch; last emission is the final answer. */
  class TopKPerUser(k: Int) extends StatefulProcessor[Long, EventIn, TopOut] {
    @transient private var top: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Double]("top",
        Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
                                 timers: TimerValues): Iterator[TopOut] = {
      val merged = (top.get().toSeq ++ rows.map(_.value))
        .sorted(Ordering[Double].reverse).take(k)
      top.put(merged.toArray)
      merged.iterator.zipWithIndex.map { case (v, i) => TopOut(key, i + 1, v) }
    }
  }

  final case class TimedEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class OpenSess(startMs: Long, lastMs: Long, n: Int)
  final case class SessClosed(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Int, closed_by: String)

  /** Timer-closed gap sessions — the [[StatefulProcessor]] TIMER
    * surface (TimeMode.EventTime): each batch extends the open session
    * and re-arms an event-time timer at lastSeen + gap; when the
    * WATERMARK passes that point with no new events,
    * [[StatefulProcessor.handleExpiredTimer]] fires, emits the closed
    * session, and clears state — the idle-key cleanup path that
    * input-driven processors can't express (a key that stops sending
    * events never enters handleInputRows again, but its timer still
    * fires). */
  class TimerSessions(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, SessClosed] {
    @transient private var sess: ValueState[OpenSess] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[OpenSess]("sess",
        Encoders.product[OpenSess], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
                                 timers: TimerValues): Iterator[SessClosed] = {
      var s = if (sess.exists()) sess.get() else OpenSess(Long.MaxValue, Long.MinValue, 0)
      var last = s.lastMs
      rows.foreach { r =>
        val t = r.ts.getTime
        s = OpenSess(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1)
      }
      sess.update(s)
      if (last != Long.MinValue) getHandle.deleteTimer(last + gapMs)
      getHandle.registerTimer(s.lastMs + gapMs)
      Iterator.empty // sessions emit only when the timer closes them
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessClosed] = {
      if (!sess.exists()) return Iterator.empty
      val s = sess.get()
      sess.clear()
      Iterator.single(SessClosed(key, new java.sql.Timestamp(s.startMs),
        s.n, "timer"))
    }
  }

  /** Drain the finite events file-stream through the processor and
    * return the FINAL per-user profile (max-n_events emission per key),
    * matching `SELECT user_id, count(*), sum(value),
    * count(DISTINCT event_type) … GROUP BY user_id`. */
  def runningUserProfileToMemory(spark: SparkSession, dir: String,
                                 queryName: String): DataFrame =
      EventsStream.withDrainPartitions(spark) {
    // transformWithState requires the RocksDB state store provider;
    // scoped to this drain, so later stateful queries on the shared
    // session keep the session's own provider
    EventsStream.withConf(spark, "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      import spark.implicits._
      val out = EventsStream.readEvents(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .as[EventIn]
        .groupByKey(_.user_id)
        .transformWithState(new RunningUserProfile,
          TimeMode.None(), OutputMode.Update(), Encoders.product[UserOut])
      EventsStream.drain(spark, queryName)(out.writeStream
        .outputMode("update").format("memory").queryName(queryName))
    }
    spark.table(queryName)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("n_events"), col("sum_value"), col("n_types")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
              round(col("f.sum_value"), 4).as("sum_value"),
              col("f.n_types").as("n_types"))
      .orderBy(col("user_id"))
  }
}
