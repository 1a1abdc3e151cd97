package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftTestBase

/** Production-shape streaming machinery the operator specs don't cover:
  * foreachBatch (the "write anywhere, transactionally by batchId" sink),
  * Trigger.AvailableNow (drain-everything-then-stop backfill runs), and
  * the RocksDB state store provider (state larger than executor heap —
  * the 100 TB configuration; HDFS-backed in-memory state is the small
  * default).
  */
class StreamingRobustnessSpec extends GraftTestBase {

  private def batchCounts(): Seq[String] =
    graft.Tables(spark, sf001)("events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toString).toSeq

  test("foreachBatch sink: batchId-keyed idempotent writes reach batch parity") {
    // foreachBatch hands (batchDf, batchId); an exactly-once sink keys its
    // commit on batchId so a replayed batch overwrites, never double-counts.
    val perBatch = mutable.Map.empty[Long, Array[Row]]
    val q = EventsStream.readEvents(spark, sf001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (df: DataFrame, id: Long) =>
        perBatch(id) = df.collect() // idempotent: replay of id overwrites
      }
      .start()
    q.processAllAvailable(); q.stop()
    val last = perBatch(perBatch.keys.max)
      .map(_.toString).sorted.toSeq
    assert(last == batchCounts())
  }

  test("Trigger.AvailableNow drains the source then stops on its own") {
    val q = EventsStream.readEvents(spark, sf001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("complete")
      .format("memory").queryName("avail_now_out")
      .trigger(Trigger.AvailableNow())
      .start()
    // unlike the default trigger, the query terminates itself once the
    // backlog is consumed — no stop() needed
    assert(q.awaitTermination(120000))
    assert(!q.isActive)
    val got = spark.table("avail_now_out")
      .orderBy("event_type").collect().map(_.toString).toSeq
    assert(got == batchCounts())
  }

  test("RocksDB state store provider runs the stateful agg with identical results") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.readEvents(spark, sf001)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream
        .outputMode("complete")
        .format("memory").queryName("rocksdb_out")
        .start()
      q.processAllAvailable()
      // provider actually engaged, not silently defaulted
      assert(q.lastProgress.stateOperators.nonEmpty)
      q.stop()
      val got = spark.table("rocksdb_out")
        .orderBy("event_type").collect().map(_.toString).toSeq
      assert(got == batchCounts())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("drains checkpoint under the warehouse root and delete it after stop") {
    val root = new java.io.File(
      new java.net.URI(EventsStream.checkpointRoot(spark)))
    def leftovers(prefix: String): Seq[String] =
      Option(root.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.startsWith(prefix + "-"))
    var seen = Seq.empty[String]
    val name = "ckpt_cleanup_out"
    // the checkpoint exists while the query runs ...
    EventsStream.drain(spark, name)(EventsStream.readEvents(spark, sf001)
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) => seen = leftovers(name) })
    assert(seen.size == 1, s"no checkpoint under $root while running")
    // ... and is gone once it stopped
    assert(leftovers(name).isEmpty, s"checkpoint left behind under $root")
  }
}
