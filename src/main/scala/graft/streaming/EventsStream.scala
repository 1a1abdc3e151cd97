package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the `events` table.
  *
  * The reference is pure batch (SURVEY.md §2.9) — this is the planned
  * streaming extension: the same tumbling-window aggregate as the batch
  * query q32, run through readStream → groupBy(window) → memory sink, so
  * batch and stream results are directly comparable (and share one
  * DuckDB oracle).
  */
object EventsStream {

  /** Partition count for finite-drain demo/verify queries. Stateful
    * micro-batches pay a fixed per-partition cost every commit (one
    * state-store task + checkpoint delta file per partition per
    * stateful operator — a stream-stream join carries four stores), so
    * a 60k-row drain at the session's 32 shuffle partitions spends its
    * wall-clock on state bookkeeping, not data; this is also the cost
    * that balloons first under ambient memory/IO pressure (the r6
    * driver bench's 7-8 s streaming tail). 8 partitions cuts that fixed
    * cost 4× while leaving values untouched (state partitioning never
    * affects results). A production deployment sizes this to throughput
    * instead — the knob is per-query, not a global session setting. */
  val DrainPartitions = 8

  /** Runs `body` (plan + start + drain of a streaming query) with
    * spark.sql.shuffle.partitions temporarily lowered to
    * [[DrainPartitions]] — the conf is read at query START, so wrapping
    * the whole build+drain is sufficient and the session value is
    * restored for whatever runs next. */
  def withDrainPartitions[T](spark: SparkSession)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", DrainPartitions.toString)(body)

  /** Runs `body` with session conf `key` set to `value`, then puts the
    * session back as it was: the previous value if `key` was set, unset
    * otherwise — so a drain never leaks its settings into the queries
    * that share the session after it. */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Root of the drains' checkpoint dirs: `graft_stream_ckpt` under the
    * session warehouse (the [[graft.operators.ModelStore.artifactPath]]
    * convention), instead of one anonymous temp dir per query. */
  def checkpointRoot(spark: SparkSession): String =
    spark.sessionState.conf.warehousePath.stripSuffix("/") + "/graft_stream_ckpt"

  /** Starts the query `writer` describes against a fresh checkpoint dir
    * under [[checkpointRoot]], drains everything available, stops it and
    * deletes the dir. Every finite drain in graft.streaming goes through
    * here. */
  def drain(spark: SparkSession, name: String)(writer: DataStreamWriter[_]): Unit = {
    val dir = new Path(checkpointRoot(spark), s"$name-${UUID.randomUUID()}")
    val q = writer.option("checkpointLocation", dir.toString).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    }
  }

  /** Schema of the current driver testdata's events.parquet (`ts` is
    * TIMESTAMP_MICROS isAdjustedToUTC=0 → TIMESTAMP_NTZ). Tests use this
    * to batch-read and re-stage event files; the streaming reader itself
    * probes the actual footer (`readEvents`), so a testdata regeneration
    * only ever invalidates this val, never the engine path. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEvents(spark: SparkSession, dir: String,
                 glob: String = "events.parquet"): DataFrame = {
    // Harmless for micros data; required if the legacy nanos encoding
    // returns (the footer read itself would throw without it).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // File streams can't infer a schema — probe the batch footer of the
    // same files so the stream always matches what's actually on disk,
    // then normalize `ts` exactly like the batch path (Tables.events).
    val onDisk = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    // File-stream sources need a directory basePath; the testdata dir
    // holds one file per table, so glob-filter down to events.parquet
    // (tests staging their own multi-file dirs widen the glob).
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(onDisk)
        .option("pathGlobFilter", glob)
        .parquet(dir))
  }

  /** Tumbling-window counts/sums per event type (batch-q32 twin).
    * `complete` mode + memory sink: every window is emitted once the
    * (finite) file stream drains, so the result equals the batch agg. */
  def windowedAggToMemory(spark: SparkSession, dir: String,
                          queryName: String): DataFrame = withDrainPartitions(spark) {
    val agg = readEvents(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), round(col("sum_value"), 4).as("sum_value"))
    drain(spark, queryName)(agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }

  /** STREAMING gap sessionization with the built-in session_window —
    * the declarative twin of StatefulSessions' hand-rolled state: a
    * 30-minute-gap session per user, closed (and emitted, append mode)
    * once the watermark passes its end. Draining the finite file stream
    * emits every session, so the result equals batch session_window
    * (q87's oracled shape) — pinned in StreamingSessionWindowSpec. */
  def sessionWindowToMemory(spark: SparkSession, dir: String,
                            queryName: String): DataFrame = withDrainPartitions(spark) {
    val agg = readEvents(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), round(col("sum_value"), 4).as("sum_value"))
    drain(spark, queryName)(agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName))
    spark.table(queryName)
  }

  /** Stream-stream inner join with an event-time range condition:
    * purchases matched to same-user clicks in the preceding 30 minutes.
    * Both sides carry watermarks so the join state is bounded — Spark
    * retains each side only until the watermark passes the range bound,
    * which is what makes the operator viable on an infinite stream.
    * Inner-join matches emit as soon as both rows arrive (append mode);
    * draining the finite file stream therefore yields exactly the batch
    * join, which is the DuckDB oracle (q61). */
  def streamStreamJoinToMemory(spark: SparkSession, dir: String,
                               queryName: String): DataFrame = withDrainPartitions(spark) {
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
              col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
              round((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                      .cast("double") / 1e6, 6).as("gap_s"))
    drain(spark, queryName)(joined.writeStream
      .outputMode("append").format("memory").queryName(queryName))
    spark.table(queryName)
  }

  /** Stream-STATIC join — enrich a stream with a batch dimension. The
    * static side is planned once and re-executed per micro-batch with
    * no streaming state at all (unlike stream-stream joins there is no
    * watermark bookkeeping): at scale the dim is broadcast and the
    * stream never shuffles. Here the dim is the per-user purchase
    * profile computed batch-side from the same events table, so the
    * drained stream equals the batch join and shares a DuckDB oracle
    * (q117). */
  def streamStaticEnrichToMemory(spark: SparkSession, dir: String,
                                 queryName: String): DataFrame = withDrainPartitions(spark) {
    val static = graft.Tables(spark, dir)("events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("s_user_id"))
      // snap to integer cents and total them: integer-valued doubles sum
      // exactly in any order, so the profile is bit-identical across
      // engines (an avg would land on .5 rounding ties that Spark and
      // DuckDB break differently)
      .agg(count(lit(1)).as("n_purchases"),
           round(sum(round(col("value") * 100)) / 100, 2).as("total_purchase"))
    val joined = readEvents(spark, dir)
      .filter(col("event_type") === "click")
      .join(broadcast(static), col("user_id") === col("s_user_id"))
      .select(col("event_id"), col("user_id"),
              col("n_purchases"), col("total_purchase"))
    drain(spark, queryName)(joined.writeStream
      .outputMode("append").format("memory").queryName(queryName))
    spark.table(queryName)
  }

  /** Stream-stream LEFT OUTER join — unlike the inner join, unmatched
    * left rows must wait until the WATERMARK proves no match can still
    * arrive, then emit with nulls; Spark holds each left row only until
    * the watermark passes the join range bound, which bounds state on an
    * infinite stream. On a finite file drain the watermark only advances
    * to (max seen event time − delay), so purchases in the final
    * `delay + range` window stay unemitted — batch-equivalence testing
    * appends a far-future sentinel event to flush them (see
    * StreamingSpec). */
  def streamStreamLeftJoinToMemory(spark: SparkSession, dir: String,
                                   queryName: String,
                                   glob: String = "events.parquet"): DataFrame = withDrainPartitions(spark) {
    val purchases = readEvents(spark, dir, glob)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = readEvents(spark, dir, glob)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
              col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val joined = purchases.join(clicks,
        col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes") &&
        col("c_ts") <= col("p_ts"),
        "left_outer")
      .select(col("user_id"), col("purchase_id"), col("click_id"))
    drain(spark, queryName)(joined.writeStream
      .outputMode("append").format("memory").queryName(queryName))
    spark.table(queryName)
  }

  /** Streaming deduplication with state TTL:
    * dropDuplicatesWithinWatermark keeps one row per (user_id,
    * event_type) while expiring key state once the watermark passes —
    * bounded memory on an infinite stream, unlike plain dropDuplicates.
    * Over the finite file stream every event falls inside the watermark
    * window, so the result equals a global batch distinct (q62's
    * oracle aggregates the sink table). */
  def streamDedupToMemory(spark: SparkSession, dir: String,
                          queryName: String): DataFrame = withDrainPartitions(spark) {
    val deduped = readEvents(spark, dir)
      .withWatermark("ts", "24 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    drain(spark, queryName)(deduped.writeStream
      .outputMode("append").format("memory").queryName(queryName))
    spark.table(queryName)
  }

  /** foreachBatch sink — the production pattern for sinks Structured
    * Streaming doesn't ship natively (JDBC, multi-table fan-out,
    * merge/upsert): each micro-batch arrives as a plain DataFrame plus
    * a monotonically increasing batchId. Writing to a batchId-named
    * directory makes the write IDEMPOTENT — on failure/replay the same
    * batch overwrites the same path instead of duplicating, which is
    * exactly-once delivery for object-store sinks. */
  def foreachBatchToParquet(spark: SparkSession, dir: String,
                            outDir: String): Unit = withDrainPartitions(spark) {
    drain(spark, "foreach_batch")(readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      })
  }

  /** Watermarked append-mode variant (the production streaming shape:
    * bounded state, late data dropped past the watermark). Used by
    * StreamingSpec; a finite file stream in append mode only emits
    * windows the watermark has passed. */
  def watermarkedWindowAgg(spark: SparkSession, dir: String): DataFrame =
    readEvents(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), round(col("sum_value"), 4).as("sum_value"))
}
