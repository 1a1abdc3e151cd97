package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.GraftTestBase

/** transformWithState (Spark 4 arbitrary-state API): multi-batch state
  * accumulation and final-emission correctness against the batch
  * aggregate. Events are re-written as TWO parquet files consumed one
  * per micro-batch (maxFilesPerTrigger=1), so ValueState/MapState must
  * survive and merge across batches — the single-file drain in
  * q84_tws_profile can't distinguish stateless from stateful. */
class TransformWithStateSpec extends GraftTestBase {

  test("q84's drain restores the session's state store provider") {
    // the RocksDB provider it needs must not leak into later stateful
    // queries on the shared session (they ran 3-10x slower on it)
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.unset(key)
    val unsetBefore = spark.conf.getAll.get(key)
    val rows = TransformWithStateOps
      .runningUserProfileToMemory(spark, sf001, "tws_restore_unset").count()
    assert(rows > 0)
    assert(spark.conf.getAll.get(key) == unsetBefore && unsetBefore.isEmpty)

    val hdfs =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set(key, hdfs)
    TransformWithStateOps.runningUserProfileToMemory(spark, sf001, "tws_restore_set")
    assert(spark.conf.getAll.get(key) == Some(hdfs))
    spark.conf.unset(key)
  }

  test("per-user profile accumulates across micro-batches and matches batch agg") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.schema(EventsStream.rawSchema)
      .parquet(s"$sf001/events.parquet")

    // Two half-files FLAT in one stream dir (nested write dirs would be
    // swept up in a single trigger); stream them one per batch.
    val dir = Files.createTempDirectory("tws_in").toFile.getAbsolutePath
    Seq("a" -> (0 to 0), "b" -> (1 to 1)).foreach { case (name, par) =>
      val tmp = s"$dir/_stage_$name"
      raw.filter(col("event_id") % 2 === par.head).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    val out = spark.readStream
      .schema(EventsStream.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[TransformWithStateOps.EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new TransformWithStateOps.RunningUserProfile,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[TransformWithStateOps.UserOut])
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("tws_spec_out").start()
    q.processAllAvailable()
    q.stop()

    val sink = spark.table("tws_spec_out")
    // Users present in both half-files must have emitted twice with
    // increasing n_events — proof the second batch saw first-batch state.
    val perUserEmits = sink.groupBy("user_id").count()
      .filter(col("count") >= 2).count()
    assert(perUserEmits > 0, "no user emitted in two separate micro-batches")

    val finalRows = sink.groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("sum_value"), col("n_types")),
        col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
              round(col("f.sum_value"), 4).as("sum_value"),
              col("f.n_types").as("n_types"))
    val expected = raw
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"),
           countDistinct(col("event_type")).cast("int").as("n_types"))
    assert(finalRows.exceptAll(expected).isEmpty &&
           expected.exceptAll(finalRows).isEmpty,
      "final TWS state differs from batch aggregate")
  }

  test("ListState top-k per user across micro-batches == batch top-k") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    val raw = spark.read.schema(EventsStream.rawSchema)
      .parquet(s"$sf001/events.parquet")

    val dir = Files.createTempDirectory("tws_topk").toFile.getAbsolutePath
    Seq("a" -> 0, "b" -> 1).foreach { case (name, par) =>
      val stage = s"$dir/_stage_$name"
      raw.filter(col("event_id") % 2 === par).coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
    }

    val k = 3
    val out = spark.readStream.schema(EventsStream.rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[TransformWithStateOps.EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new TransformWithStateOps.TopKPerUser(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[TransformWithStateOps.TopOut])
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("tws_topk_out").start()
    q.processAllAvailable()
    q.stop()

    // Final ranking per user = the LAST batch's emission = min value
    // per (user, rank) since rank-r values only improve (grow) —
    // take max value per (user, rank) instead: values at a given rank
    // are monotone non-decreasing across batches.
    val got = spark.table("tws_topk_out")
      .groupBy(col("user_id"), col("rank"))
      .agg(max(col("value")).as("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val expected = raw
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("user_id"), col("rank").cast("int").as("rank"), col("value"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "streaming ListState top-k differs from batch top-k")
  }

  test("initial-state bootstrap: batch seed + streamed delta == full batch aggregate") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    val raw = spark.read.schema(EventsStream.rawSchema)
      .parquet(s"$sf001/events.parquet")

    // Seed state = batch aggregate of the EVEN half; stream the ODD half.
    val seed = raw.filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)

    val dir = java.nio.file.Files.createTempDirectory("tws_seed").toFile.getAbsolutePath
    raw.filter(col("event_id") % 2 === 1).write.parquet(s"$dir/odd")

    val out = spark.readStream.schema(EventsStream.rawSchema).parquet(s"$dir/odd")
      .select(col("user_id"), col("event_type"), col("value"))
      .as[TransformWithStateOps.EventIn]
      .groupByKey(_.user_id)
      .transformWithState(new TransformWithStateOps.SeededUserProfile,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(), seed,
        org.apache.spark.sql.Encoders.product[TransformWithStateOps.UserOut],
        implicitly[org.apache.spark.sql.Encoder[(Long, Long, Double)]])
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("tws_seed_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("tws_seed_out")
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_events"), col("sum_value")), col("n_events")).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
              round(col("f.sum_value"), 4).as("sum_value"))
    // Streamed keys must carry seed + delta. (Keys with no odd events
    // never emit — initial state alone doesn't produce output.)
    val expected = raw.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .join(raw.filter(col("event_id") % 2 === 1).select("user_id").distinct(),
        Seq("user_id"), "left_semi")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "seeded stream state diverged from the full batch aggregate")
  }
}
