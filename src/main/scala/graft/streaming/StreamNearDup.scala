package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Streaming near-dup gate: flag incoming documents that near-duplicate
  * an already-indexed corpus, in-flight, via stream-static LSH joins.
  *
  * This is the ingestion-time shape of MinHash dedup at 100 TB: the
  * historical corpus is distilled ONCE into (a) per-doc signatures and
  * (b) banded LSH keys — both tiny relative to the text — and every
  * arriving micro-batch computes its own signatures row-locally (the
  * fused expression family), explodes band keys, and probes the static
  * index with two broadcast joins. No stream-stream state, no shuffle
  * of the corpus per batch; the only stateful operator is the final
  * per-pair dedup (a pair can match on several bands and across
  * micro-batch replays). Here that dedup is unwatermarked because the
  * demo drain is finite; a production deployment watermarks on arrival
  * time (`dropDuplicatesWithinWatermark`) to bound the pair state.
  *
  * Uses the md5 base-hash family and raw-string band keys (the q26
  * oracle-able twin of the xxhash64 scale path) so the emitted flag set
  * is reproducible by the DuckDB oracle end-to-end.
  */
object StreamNearDup {

  private val K = 16
  private val Bands = 4
  private val ShingleLen = 5

  /** md5-family signatures for a (possibly streaming) doc frame. */
  private def sigsOf(docs: DataFrame): DataFrame =
    Dedup.minhashSignaturesComposed(
      docs.select(col("doc_id"),
        TextFunctions.charShingles(col("text"), ShingleLen).as("__sh")),
      "doc_id", "__sh", K, Dedup.mdBaseHash)

  /** Drains the gate over the q26 sample universe (doc_id % 5 == 0):
    * docs with doc_id % 10 == 0 are the static index, docs with
    * doc_id % 10 == 5 arrive as the stream. Returns the flagged pairs
    * (in_id, idx_id, est_jaccard). */
  def gateToMemory(spark: SparkSession, dir: String, queryName: String,
                   threshold: Double = 0.2): DataFrame =
    EventsStream.withDrainPartitions(spark) {
      val universe = Tables(spark, dir)("documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0 &&
          length(col("text")) >= ShingleLen)
      // Static index: computed once, reused by every micro-batch.
      val statSigs = sigsOf(universe.filter(pmod(col("doc_id"), lit(10)) === 0))
        .select(col("doc_id").as("idx_id"), col("sig").as("sig_idx"))
        .localCheckpoint()
      val statBands = Dedup
        .bandRows(statSigs.select(col("idx_id").as("doc_id"),
          col("sig_idx").as("sig")), "doc_id", K, Bands, hashBandKeys = false)
        .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_key"))
        .localCheckpoint()

      // Incoming stream: file source over the same parquet, filtered to
      // the "arriving" half. Signature + band explode are row-local.
      // File-stream sources need a directory basePath: glob-filter the
      // testdata dir down to documents.parquet (same trick as
      // EventsStream.readEvents), schema probed from the batch footer.
      val schema = spark.read.option("pathGlobFilter", "documents.parquet")
        .parquet(dir).schema
      val incoming = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter(pmod(col("doc_id"), lit(5)) === 0 &&
          pmod(col("doc_id"), lit(10)) === 5 &&
          length(col("text")) >= ShingleLen)
      val inBands = Dedup.bandRows(sigsOf(incoming), "doc_id", K, Bands,
          hashBandKeys = false, carrySig = true)
        .select(col("doc_id").as("in_id"), col("sig").as("sig_in"),
          col("band_idx"), col("band_key"))

      val est = size(filter(
        zip_with(col("sig_in"), col("sig_idx"), (x, y) => x === y),
        b => b)).cast("double") / lit(K.toDouble)
      val flagged = inBands
        .join(broadcast(statBands), Seq("band_idx", "band_key"))
        .join(broadcast(statSigs), Seq("idx_id"))
        .select(col("in_id"), col("idx_id"), est.as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
        .dropDuplicates("in_id", "idx_id")

      EventsStream.drain(spark, queryName)(flagged.writeStream
        .outputMode("append").format("memory").queryName(queryName))
      spark.table(queryName)
    }
}
