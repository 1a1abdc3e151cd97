package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{AdaptiveGate, Dedup, KnLm, LangId, QualityClassifier, SubstringDedup, Winnowing}
import graft.pipelines.CurationPipeline

/** Streaming twin of [[graft.pipelines.CurationPipeline]]: the full
  * curation funnel applied at INGESTION time, with the historical
  * corpus distilled once into broadcastable gate state and every
  * micro-batch admitted through foreachBatch MERGE into a catalog
  * table (the [[StreamingUpsertSpec]] exactly-once pattern — replays
  * converge by doc_id key instead of duplicating).
  *
  * Stage mapping (batch → stream):
  *   0. language ID + gate   → identical map-side LangId projection on
  *      the incoming batch (content-based by construction — a
  *      never-seen document classifies the same way the corpus did);
  *      the distillates below are built from the language-GATED corpus
  *      so stage-1..2d index membership matches the batch funnel's
  *      post-gate survivor sets exactly.
  *   1. exact dedup        → broadcast (fingerprint, min_id) lookup;
  *      a doc survives iff it IS its fingerprint group's minimum.
  *   2. near dedup         → the [[StreamNearDup]] gate on the
  *      production xxhash64 family: row-local fused signatures,
  *      banded probe of the static hot-bucket-capped index, exact
  *      est-Jaccard verify against idx_id < doc_id. On the same
  *      corpus this reproduces the batch loser set EXACTLY (same
  *      signatures, same capped buckets, same scoring).
  *   2b. substring gate → broadcast static heavy-id set (an ID set:
  *      exact for corpus replay; an unseen patchwork doc is instead
  *      caught by the winnow content gate below).
  *   2c. containment gate → CONTENT-BASED: the incoming doc's own
  *      bottom-k cold shingle hashes probe the corpus shingle-hash
  *      index ([[graft.operators.Dedup.containmentScoresAgainst]], the
  *      minhashGate new-vs-index shape), so a never-seen REORDERED
  *      quote — too low-Jaccard for near-dup, no long runs for the
  *      winnow gate — is priced at ingestion. On corpus replay this
  *      reproduces the batch stage's qid-side rows exactly.
  *   2d. winnow gate → the corpus' winnowing FINGERPRINT state
  *      (fp, n_docs, min_id) — a ~2/(w+1)-density content sketch, the
  *      one gate distillate that sees INSIDE a never-seen document: an
  *      incoming doc computes its own fingerprints row-locally and is
  *      rejected when the fraction held by OTHER docs (n_docs >= 2, or
  *      a sole holder that isn't this doc) exceeds the threshold. On
  *      corpus replay this reduces to the batch window-count rule
  *      exactly (a corpus doc holds its own fp, so "foreign" ⟺
  *      n_docs >= 2 on both sides).
  *   3. decontamination → broadcast static benchmark-shingle set
  *      (already content-based: an unseen contaminated doc is caught).
  *   4/5. quality + repetition gates → identical map-side expressions;
  *      the repetition gate IS the batch stage's
  *      [[graft.pipelines.CurationPipeline.repetitionGate]] (the native
  *      one-split [[graft.functions.expressions.DupBigramFrac]] kernel),
  *      so the two funnels cannot drift apart on it.
  *   4b. adaptive quality gate → the per-language CUT KEY distillate
  *      ([[graft.operators.AdaptiveGate.cutKeys]]: each language's
  *      first kept (ttr, doc_id) pair under the batch rank rule) —
  *      broadcast, content-based: an incoming doc drops iff its own
  *      (ttr, id) sits lexicographically below its language's cut, so
  *      corpus replay reproduces the batch stage exactly and a
  *      never-seen doc is priced against the corpus distribution.
  *   6. domain cap         → foreachBatch: per-source admission ranked
  *      by the SAME deterministic hash order as the batch window,
  *      offset by the admitted counts already in the catalog table —
  *      derived from the (MERGE-deduped) table itself, so replayed
  *      batches cannot double-count.
  *   7. hash sample        → identical md5-bucket filter, carried as a
  *      `sampled` flag so the admitted table keeps serving the cap
  *      counts while the curated view filters on the flag.
  *
  * All gate state is micro relative to the corpus (fingerprint minima,
  * signatures, band keys, heavy/contained ids, winnow fingerprints,
  * bench shingles — never text). The winnow state is the largest
  * piece: ~2/(w+1) of the corpus' gram count as 32-bit keys — at
  * 100 TB it lives as a table partitioned by fp and the probe becomes
  * a keyed join instead of a broadcast; every other per-batch
  * operation is a broadcast join or a map-side filter, and the only
  * per-batch shuffles are the cap window and the winnow/contamination
  * per-doc rollups over the batch's own rows.
  *
  * A document whose exact fingerprint is NOT in the corpus index is
  * ADMITTED through stage 1 (a genuinely new fingerprint is not a
  * duplicate) and then gated content-based by the near-dup, winnow,
  * and decontamination probes — the ingestion path for never-seen
  * data, exercised by the planted-patchwork spec.
  */
object StreamingCuration {

  private val ShingleLen = 5
  private val K = 64
  private val Bands = 16

  private val WinnowK = 8
  private val WinnowW = 4

  /** Drains the documents stream through the curation gates into
    * `resultTable` (a catalog table with columns (doc_id BIGINT,
    * source STRING, lang STRING, pred_lang STRING, sampled BOOLEAN,
    * ict_ctx BOOLEAN, ict_chunks INT, triplet_ok BOOLEAN,
    * batch_contaminated INT) —
    * pred_lang is the LangId prediction, the per-language slice key;
    * ict_ctx/ict_chunks/triplet_ok are the contrastive-prep yield
    * columns, computed per admitted document from row-local token
    * counts plus the per-source negative-pool distillate;
    * batch_contaminated is the q476 dirtiness gate at ingestion time —
    * how many docs of the row's micro-batch collided with the
    * benchmark shingle set, i.e. "did this incoming shard contaminate
    * any benchmark", stamped per batch so replays keep the original
    * batch's answer; score_psi DOUBLE is the q485 drift gate at
    * ingestion time — the population-stability index of the
    * micro-batch's quality-score decile distribution against the
    * standing corpus distillate (10 reference fractions, driver
    * state), stamped per batch so "did this shard's score profile
    * drift from the corpus" is answerable from the admitted table;
    * on corpus replay the distributions are identical and the stamp
    * is exactly 0.0).
    * Gate state distills from `dir`'s documents table; the stream
    * reads `streamDir` (defaults to `dir` — the replay/convergence
    * case; point it elsewhere to ingest never-seen documents through
    * the same gates). Parameters mirror
    * [[graft.pipelines.CurationPipeline.run]]'s defaults so the
    * drained table matches the batch funnel. */
  def curateToTable(spark: SparkSession, dir: String, resultTable: String,
                    domainCap: Long = Long.MaxValue,
                    nearDupThreshold: Double = 0.7,
                    maxDupGramFrac: Double = 0.6,
                    maxSubstringDupFrac: Double = 0.5,
                    minContainment: Double = 0.8,
                    maxJaccard: Double = 0.5,
                    maxWinnowDupFrac: Double = 0.5,
                    maxAvgNll: Double = Double.PositiveInfinity,
                    allowedLangs: Option[Set[String]] = None,
                    adaptiveQualityPct: Int = 0,
                    streamDir: Option[String] = None): Unit =
    EventsStream.withDrainPartitions(spark) {
      import graft.functions.expressions.ShingleMinHash.shingleMinhash
      // stage 0 twins: the identical LangId projection + optional gate
      // the batch funnel runs (map-side, so it applies unchanged to
      // both the corpus distillation and every incoming micro-batch)
      val scoreCols = LangId.defaultModel.map { case (l, _) => s"score_$l" }
      def withLang(df: DataFrame): DataFrame =
        LangId.classify(df, "text").drop(scoreCols: _*)
      def langGate(df: DataFrame): DataFrame =
        allowedLangs.fold(df)(ls =>
          df.filter(col("pred_lang").isin(ls.toSeq.sorted: _*)))
      val input = langGate(withLang(Tables(spark, dir)("documents")))
      val benchmark = (id: org.apache.spark.sql.Column) => pmod(id, lit(97)) === 0

      // ---- score-drift distillate (the q485 PSI gate at ingestion) ----
      // the standing corpus' quality-score decile distribution: ten
      // longs of driver state, built once from the SAME gated corpus
      // the other distillates derive from. Per batch the twin 10-row
      // agg runs over the gated micro-batch and the PSI is driver
      // arithmetic (6-dp term rounding, the q485 determinism; the
      // 1e-6 floor keeps empty deciles finite). StrictMath.log for
      // bit-stability across JVMs (the IRLS StrictMath.exp precedent).
      val scoreBin = least(floor(round(QualityClassifier.scoreExpr(
        QualityClassifier.defaultModel(col("text"))), 6) * 10), lit(9.0))
        .cast("int").as("__sbin")
      def decileCounts(df: DataFrame): Array[Long] = {
        val m = df.select(scoreBin).groupBy("__sbin")
          .agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        Array.tabulate(10)(b => m.getOrElse(b, 0L))
      }
      val refHist = decileCounts(input)
      val refTotal = refHist.sum
      def psiVsCorpus(cand: Array[Long]): Double = {
        val candTotal = cand.sum
        if (candTotal == 0L || refTotal == 0L) 0.0
        else (0 until 10).map { b =>
          val p = math.max(refHist(b).toDouble / refTotal, 1e-6)
          val q = math.max(cand(b).toDouble / candTotal, 1e-6)
          BigDecimal((p - q) * StrictMath.log(p / q))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.sum
      }

      // ---- static distillates (one-time index build; all tiny) ----
      // contrastive-prep distillate: per-source ICT-with-context counts
      // over the gated corpus — the cross-source negative pool sizes
      // (one row per source, bounded). triplet_ok below = the doc
      // yields an ICT (query, context) pair AND the corpus offers at
      // least one other-source context as a negative — the q470 funnel
      // stages as per-document columns, batch≡stream by construction.
      val ictPool = input
        .filter(size(TextFunctions.tokens(col("text"))) > 32)
        .groupBy("source").agg(count(lit(1)).as("__ict_n"))
        .localCheckpoint()
      val ictTotal: Long = ictPool
        .agg(coalesce(sum("__ict_n"), lit(0L))).collect()(0).getLong(0)
      val fpMin = input
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("min_id"))
        .localCheckpoint()
      val exact = input.join(
        fpMin.select(col("min_id").as("doc_id")), Seq("doc_id"), "left_semi")
      val sigs = exact.filter(length(col("text")) >= ShingleLen)
        .select(col("doc_id"),
          shingleMinhash(col("text"), ShingleLen, K).as("sig"))
        .localCheckpoint()
      val statBands = Dedup.dropHotBuckets(
          Dedup.bandRows(sigs, "doc_id", K, Bands),
          Seq("band_idx", "band_key"), Dedup.DefaultMaxBucket)
        .select(col("doc_id").as("idx_id"), col("band_idx"), col("band_key"))
        .localCheckpoint()
      val statSigs = sigs
        .select(col("doc_id").as("idx_id"), col("sig").as("sig_idx"))
      val losers = Dedup.minhashDedup(exact, "doc_id", "text",
          threshold = nearDupThreshold)
        .select(col("id_b").as("doc_id")).distinct()
      val near = exact.join(losers, Seq("doc_id"), "left_anti")
      val heavy = SubstringDedup
        .profile(near, "doc_id", "text", k = 8, SubstringDedup.xxGram)
        .filter(col("dup_frac") > maxSubstringDupFrac)
        .select(col("doc_id").as("heavy_id"))
        .localCheckpoint()
      val substrSet = near.join(heavy,
        near("doc_id") === heavy("heavy_id"), "left_anti")
      val containedIds = Dedup.containmentGate(substrSet, "doc_id", "text",
          minContainment = minContainment, maxJaccard = maxJaccard)
        .select(col("contained_id")).distinct()
        .localCheckpoint()
      val containSet = substrSet.join(containedIds,
        substrSet("doc_id") === containedIds("contained_id"), "left_anti")
      // the containment gate's CONTENT index: the substring survivors'
      // distinct (idx_id, h) shingle hashes — at 100 TB a table
      // partitioned by h, probed by each batch's bottom-k sample
      val idxHashes = Dedup
        .shingleHashes(substrSet, "doc_id", "text", 5, xxhash64(_))
        .withColumnRenamed("doc_id", "idx_id")
        .localCheckpoint()
      // winnow fingerprint state over the containment survivors — the
      // content sketch the ingestion gate probes: per fp, how many
      // docs hold it and the smallest holder id (so a sole holder can
      // recognize ITSELF as non-foreign on replay)
      val winnowState = Winnowing
        .fingerprints(containSet, "doc_id", "text", WinnowK, WinnowW)
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("fp_min_id"))
        .localCheckpoint()
      val winnowHeavyIds = Winnowing
        .fingerprints(containSet, "doc_id", "text", WinnowK, WinnowW)
        .join(broadcast(winnowState), Seq("fp"))
        .groupBy("doc_id")
        .agg((sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("__wfrac"))
        .filter(col("__wfrac") > maxWinnowDupFrac)
        .select(col("doc_id").as("winnow_id"))
        .localCheckpoint()
      val winnowSet = containSet.join(winnowHeavyIds,
        containSet("doc_id") === winnowHeavyIds("winnow_id"), "left_anti")
      val benchSh = winnowSet
        .filter(benchmark(col("doc_id")))
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(explode(TextFunctions.wordShingles(col("toks"), 3)).as("sh"))
        .distinct()
        .localCheckpoint()
      // static replay chain to the quality stage — both downstream
      // distillates (the adaptive cut keys and the KN model fit
      // corpus) sit past quality in the batch funnel, so the chain is
      // shared and evaluated at most once (lazy: neither gate on →
      // never built)
      lazy val qualSt: DataFrame = {
        val contaminatedSt = winnowSet.filter(!benchmark(col("doc_id")))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("toks"), 3)).as("sh"))
          .join(broadcast(benchSh), "sh").select("doc_id").distinct()
        val deconSt = winnowSet.filter(!benchmark(col("doc_id")))
          .join(contaminatedSt, Seq("doc_id"), "left_anti")
        deconSt
          .filter(col("n_chars") >= 64 && col("n_chars") <= 4096)
          .filter(size(TextFunctions.tokens(col("text"))) >= 8)
      }
      // adaptive-quality distillate: each language's first kept
      // (ttr, doc_id) pair under the batch rank rule (see scaladoc)
      val adaptiveCut: Option[DataFrame] =
        if (adaptiveQualityPct == 0) None
        else Some(AdaptiveGate.cutKeys(
            qualSt.withColumn("__ttr",
              TextFunctions.typeTokenRatio(col("text"))),
            "pred_lang", "__ttr", "doc_id", adaptiveQualityPct)
          .localCheckpoint())
      def applyAdaptiveCut(df: DataFrame): DataFrame = adaptiveCut match {
        case None => df
        case Some(cut) =>
          df.withColumn("__ttr", TextFunctions.typeTokenRatio(col("text")))
            .join(broadcast(cut), Seq("pred_lang"), "left")
            .filter(col("cut_sig").isNull ||
              col("__ttr") > col("cut_sig") ||
              (col("__ttr") === col("cut_sig") &&
                col("doc_id") >= col("cut_id")))
            .drop("__ttr", "cut_sig", "cut_id")
      }
      // KN model distillate (only when the perplexity gate is on):
      // the batch pipeline fits on its repetition-gate survivors, so
      // the static chain replays decon -> quality -> adaptive ->
      // repetition from the winnow survivors to reach the identical
      // fit corpus; the model tables are vocab-bounded broadcast
      // state, and the score probe is CONTENT-based — it prices a
      // never-seen document too
      val knModel: Option[KnLm.Model] =
        if (maxAvgNll == Double.PositiveInfinity) None
        else {
          val repSt = CurationPipeline.repetitionGate(
            applyAdaptiveCut(qualSt), maxDupGramFrac)
          Some(KnLm.fit(repSt, "doc_id", "text"))
        }

      // ---- per-batch gate: batch semantics inside foreachBatch ----
      // Returns the gated frame PLUS the batch's contaminated-doc count
      // (the q476 ingestion-time flip: how many docs of THIS shard
      // collide with the benchmark shingle set — the number an operator
      // reads before trusting a freshly ingested shard near eval time)
      // PLUS the batch's score-drift PSI vs the corpus distillate (the
      // q485 flip: has this shard's quality profile drifted).
      def curateBatch(batch: DataFrame): (DataFrame, Long, Double) = {
        // stage 0: language ID + gate, the same map-side projection
        // the distillates above were built behind
        val s0 = langGate(withLang(batch))
        // drift is priced on the gated shard vs the gated corpus —
        // same stage of both funnels, so corpus replay stamps 0.0
        val scorePsi = psiVsCorpus(decileCounts(s0))
        // left join: a fingerprint ABSENT from the corpus index is a
        // genuinely new document, not a duplicate — admit it (the
        // never-seen ingestion path); a matched fingerprint survives
        // iff this doc IS its group's minimum (the replay path)
        val s1 = s0
          .withColumn("fp", TextFunctions.fingerprint(col("text")))
          .join(broadcast(fpMin), Seq("fp"), "left")
          .filter(col("min_id").isNull || col("doc_id") === col("min_id"))
          .drop("fp", "min_id")
        val inBands = Dedup.bandRows(
          s1.filter(length(col("text")) >= ShingleLen)
            .select(col("doc_id"),
              shingleMinhash(col("text"), ShingleLen, K).as("sig")),
          "doc_id", K, Bands, carrySig = true)
        val est = size(filter(
          zip_with(col("sig"), col("sig_idx"), (x, y) => x === y),
          b => b)).cast("double") / lit(K.toDouble)
        val flagged = inBands
          .join(broadcast(statBands), Seq("band_idx", "band_key"))
          .filter(col("idx_id") < col("doc_id"))
          .select(col("doc_id"), col("idx_id"), col("sig")).distinct()
          .join(broadcast(statSigs), Seq("idx_id"))
          .filter(est >= nearDupThreshold)
          .select("doc_id").distinct()
        val s2 = s1.join(flagged, Seq("doc_id"), "left_anti")
        val s2b = s2.join(broadcast(heavy),
          s2("doc_id") === heavy("heavy_id"), "left_anti")
        val s2c = {
          val bad = Dedup
            .containmentScoresAgainst(s2b, "doc_id", "text", idxHashes,
              hotCap = 200)
            .filter(col("containment") >= minContainment &&
              col("jaccard") < maxJaccard)
            .select(col("qid").as("doc_id")).distinct()
          s2b.join(bad, Seq("doc_id"), "left_anti")
        }
        // winnow gate, content-based: the incoming doc's own
        // fingerprints (row-local array math) probe the corpus state;
        // a fingerprint is FOREIGN when other docs hold it — n_docs
        // >= 2, or a sole holder that isn't this doc (the unseen-doc
        // case; on corpus replay the min_id term is never the decider,
        // so this reduces to the batch pipeline's n >= 2 window rule)
        val winnowHeavy = Winnowing
          .fingerprints(s2c, "doc_id", "text", WinnowK, WinnowW)
          .join(broadcast(winnowState), Seq("fp"), "left")
          .groupBy("doc_id")
          .agg((sum(when(col("n_docs") >= 2 ||
              (col("n_docs") === 1 && col("fp_min_id") =!= col("doc_id")),
              1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("__wfrac"))
          .filter(col("__wfrac") > maxWinnowDupFrac)
          .select("doc_id")
        // materialized once: the contamination COUNT below and the
        // funnel tail both read this batch-bounded frame (without it
        // the whole gate prefix would evaluate twice per micro-batch)
        val s2d = s2c.join(winnowHeavy, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val contaminated = s2d.filter(!benchmark(col("doc_id")))
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
            explode(TextFunctions.wordShingles(col("toks"), 3)).as("sh"))
          .join(broadcast(benchSh), "sh")
          .select("doc_id").distinct()
          .localCheckpoint() // tiny id list: counted AND anti-joined
        val nContaminated = contaminated.count()
        val s3 = s2d.filter(!benchmark(col("doc_id")))
          .join(contaminated, Seq("doc_id"), "left_anti")
        val quality = s3
          .filter(col("n_chars") >= 64 && col("n_chars") <= 4096)
          .filter(size(TextFunctions.tokens(col("text"))) >= 8)
        val repetitionOut = CurationPipeline.repetitionGate(
          applyAdaptiveCut(quality), maxDupGramFrac)
        val gated = knModel match {
          case None => repetitionOut
          case Some(m) =>
            val bad = KnLm.score(repetitionOut, "doc_id", "text", m)
              .filter(col("avg_nll") > maxAvgNll).select("doc_id")
            repetitionOut.join(bad, Seq("doc_id"), "left_anti")
        }
        (gated, nContaminated, scorePsi)
      }

      // ---- streaming drain: gate → cap → sample → MERGE ----
      val srcDir = streamDir.getOrElse(dir)
      val schema = spark.read.option("pathGlobFilter", "documents.parquet")
        .parquet(srcDir).schema
      val incoming = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(srcDir)
      EventsStream.drain(spark, "curation")(incoming.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sess = batch.sparkSession
          val (gated, nContaminated, scorePsi) = curateBatch(batch)
          val admitted =
            if (domainCap == Long.MaxValue) gated
            else {
              // counts derive from the MERGE-deduped table, so replays
              // of an applied batch admit nothing new (convergent)
              val counts = sess.table(resultTable)
                .groupBy("source").agg(count(lit(1)).as("__cnt"))
              val w = Window.partitionBy(col("source"))
                .orderBy(md5(concat(lit("cap:"), col("doc_id").cast("string"))),
                  col("doc_id"))
              gated.withColumn("__rk", row_number().over(w))
                .join(broadcast(counts), Seq("source"), "left")
                .filter(col("__rk") + coalesce(col("__cnt"), lit(0L)) <= domainCap)
            }
          val bucket = pmod(
            conv(substring(md5(encode(concat(lit("smp:"),
              col("doc_id").cast("string")), "UTF-8")), 1, 8), 16, 10)
              .cast("long"), lit(1000))
          val rate = when(col("pred_lang") === "en", 800).otherwise(900)
          admitted
            .withColumn("__tok", size(TextFunctions.tokens(col("text"))))
            .join(broadcast(ictPool), Seq("source"), "left")
            .select(col("doc_id"), col("source"), col("lang"),
              col("pred_lang"), (bucket < rate).as("sampled"),
              (col("__tok") > 32).as("ict_ctx"),
              // row-local chunk count at the q459 chunk size (ceil with
              // the Chunker's 1-chunk floor) — the doc's ICT yield basis
              (greatest(expr("(__tok - 1) DIV 32"), lit(0)) + 1)
                .cast("int").as("ict_chunks"),
              (col("__tok") > 32 &&
                (lit(ictTotal) - coalesce(col("__ict_n"), lit(0L))) > 0)
                .as("triplet_ok"),
              // the q476 ingestion flip: every admitted row carries its
              // micro-batch's benchmark-collision count, so "did this
              // shard touch the eval set" is answerable from the
              // admitted table without re-probing the corpus
              lit(nContaminated).cast("int").as("batch_contaminated"),
              // the q485 flip: the micro-batch's score-drift PSI vs
              // the standing corpus distillate, same stamp semantics
              lit(scorePsi).cast("double").as("score_psi"))
            .createOrReplaceTempView("curation_updates")
          sess.sql(
            s"""MERGE INTO $resultTable t
                USING curation_updates s ON t.doc_id = s.doc_id
                WHEN NOT MATCHED THEN
                  INSERT (doc_id, source, lang, pred_lang, sampled,
                          ict_ctx, ict_chunks, triplet_ok,
                          batch_contaminated, score_psi)
                  VALUES (s.doc_id, s.source, s.lang, s.pred_lang,
                          s.sampled, s.ict_ctx, s.ict_chunks,
                          s.triplet_ok, s.batch_contaminated,
                          s.score_psi)""")
          ()
        })
    }
}
