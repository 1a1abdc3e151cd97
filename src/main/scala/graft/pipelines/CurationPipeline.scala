package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.expressions.DupBigramFrac.dupBigramFrac
import graft.operators.{AdaptiveGate, Dedup, LangId, SubstringDedup, Winnowing}

/** End-to-end corpus curation — the composed production job the
  * individual operators exist for: raw documents in, training-ready
  * packed shards out.
  *
  * Stages (each one a bounded number of scans/shuffles; no stage holds
  * corpus-sized driver state):
  *
  *   0. LANGUAGE ID + optional GATE — [[graft.operators.LangId]]
  *      classifies every document (one codegen projection, zero
  *      shuffles); pred_lang is THE funnel's language signal from here
  *      on (raw crawl data has no labels — the table's lang column is
  *      ground truth for tests, not something a production run has).
  *      When `allowedLangs` is set, documents predicted outside the
  *      set drop; by default the stage is an identity that still
  *      slices the report per language.
  *   1. EXACT DEDUP — md5 fingerprint, min doc_id survives
  *      (one hash-aggregate).
  *   2. NEAR DEDUP — MinHash+LSH banding; only banded candidate pairs
  *      compare, and the HIGHER doc_id of each confirmed near-dup pair
  *      is dropped (min-id canonical; no all-pairs work).
  *   2b. SUBSTRING GATE — suffix-array-criterion duplicated-span mass
  *      per doc (SubstringDedup, xxhash64 gram keys); drops docs whose
  *      duplication is spread across many partners and therefore
  *      invisible to pairwise MinHash similarity.
  *   2c. CONTAINMENT GATE — bottom-k containment (Dedup.containmentGate)
  *      drops near-SUBSET docs (quote/syndication pairs: containment
  *      >= 0.8 while Jaccard < 0.5) that symmetric MinHash banding
  *      structurally misses — band collision probability is
  *      jaccard^bands, and subset pairs have low Jaccard by
  *      construction.
  *   2d. WINNOW GATE — fraction of a doc's winnowing fingerprints
  *      shared with ANY other surviving doc (one window shuffle on the
  *      32-bit fingerprint key). Largely redundant with 2b on a batch
  *      corpus; its reason to exist is the STREAMING twin, where the
  *      corpus fingerprint set is the broadcastable state that lets
  *      the same gate run content-based on never-seen documents at
  *      ingestion ([[graft.streaming.StreamingCuration]]) — keeping it
  *      in the batch funnel keeps the two funnels equal by
  *      construction.
  *   3. DECONTAMINATION — drop documents sharing any word-3-gram with
  *      the benchmark set (tiny by construction → broadcast join).
  *   4. QUALITY GATE — length window + stopword-ratio floor per
  *      language (pure map-side).
  *   4b. ADAPTIVE QUALITY GATE (off unless adaptiveQualityPct > 0) —
  *      each predicted language drops its OWN bottom pct% by
  *      type-token ratio ([[graft.operators.AdaptiveGate]], the
  *      mC4/CCNet per-language threshold shape): a global cutoff
  *      over-filters low-resource languages, a per-group rank cannot.
  *   5. REPETITION GATE — drop documents whose duplicate word-2-gram
  *      fraction exceeds the threshold (the Gopher/MassiveText rule).
  *      Computed per-row by the native
  *      [[graft.functions.expressions.DupBigramFrac]] kernel — one
  *      split per document, map-side, NO shuffle. It replaced a
  *      composed `transform(sequence(..))` over `split(text, " ")`
  *      whose cost was quadratic in the word count: Catalyst inlines
  *      the `split` into the lambda, so every gram re-split the whole
  *      document. The per-gram-count formulation (q112) is for
  *      reporting, not gating.
  *   5b. PERPLEXITY GATE (off unless maxAvgNll is set) — the
  *      model-based quality signal (KnLm, q437's operator): a
  *      Kneser-Ney bigram model fit on the current survivors scores
  *      every document, and average-nll outliers (token salad, OCR
  *      noise — text the surface heuristics above cannot fault) drop.
  *      Model tables are vocab-bounded broadcast state.
  *   6. DOMAIN CAP — keep at most `domainCap` documents per source in
  *      deterministic hash order (one window per source; caps crawl
  *      skew so no single domain dominates the mix).
  *   7. DETERMINISTIC SAMPLE — md5-bucket per-language keep rates
  *      (reproducible under retries; map-side).
  *   8. SEQUENCE PACKING — cumsum token bins per language, 512-token
  *      budget (one window pass).
  *
  * Returns the packed corpus plus a per-stage funnel report (how many
  * documents each stage dropped — the first thing anyone debugging a
  * curation run asks for), sliced per predicted language: every stage
  * count carries its per-pred_lang breakdown (`byLang`, sorted by
  * language), so a run can answer "which language is the near-dup
  * stage eating" without a rescan — the per-language columns cost one
  * hash-aggregate per stage over the already-materialized frame, the
  * same price as the count they replace.
  */
object CurationPipeline {

  final case class Report(stage: String, docs: Long,
                          byLang: Seq[(String, Long)] = Seq.empty)

  def run(spark: SparkSession, docs: DataFrame,
          benchmarkIds: Column => Column = _ % 97 === 0,
          tokenBudget: Int = 512,
          nearDupThreshold: Double = 0.7,
          maxDupGramFrac: Double = 0.6,
          maxSubstringDupFrac: Double = 0.5,
          domainCap: Long = Long.MaxValue,
          minContainment: Double = 0.8,
          maxJaccard: Double = 0.5,
          maxWinnowDupFrac: Double = 0.5,
          maxAvgNll: Double = Double.PositiveInfinity,
          allowedLangs: Option[Set[String]] = None,
          adaptiveQualityPct: Int = 0): (DataFrame, Seq[Report]) = {
    val (packed, funnel, _) = runStages(spark, docs, benchmarkIds,
      tokenBudget, nearDupThreshold, maxDupGramFrac, maxSubstringDupFrac,
      domainCap, minContainment, maxJaccard, maxWinnowDupFrac, maxAvgNll,
      allowedLangs, adaptiveQualityPct)
    (packed, funnel)
  }

  /** [[run]] plus the per-document DISPOSITION table (doc_id,
    * dropped_at): the first stage each input document disappeared at,
    * or "kept" — the answer to "why is doc X not in my training set",
    * which funnel COUNTS cannot give. Derived from the materialized
    * stage frames with one id-level anti-join per stage boundary, so
    * the corpus text is never rescanned. */
  def runWithDisposition(spark: SparkSession, docs: DataFrame,
          benchmarkIds: Column => Column = _ % 97 === 0,
          tokenBudget: Int = 512,
          nearDupThreshold: Double = 0.7,
          maxDupGramFrac: Double = 0.6,
          maxSubstringDupFrac: Double = 0.5,
          domainCap: Long = Long.MaxValue,
          minContainment: Double = 0.8,
          maxJaccard: Double = 0.5,
          maxWinnowDupFrac: Double = 0.5,
          maxAvgNll: Double = Double.PositiveInfinity,
          allowedLangs: Option[Set[String]] = None,
          adaptiveQualityPct: Int = 0)
      : (DataFrame, Seq[Report], DataFrame) = {
    val (packed, funnel, frames) = runStages(spark, docs, benchmarkIds,
      tokenBudget, nearDupThreshold, maxDupGramFrac, maxSubstringDupFrac,
      domainCap, minContainment, maxJaccard, maxWinnowDupFrac, maxAvgNll,
      allowedLangs, adaptiveQualityPct)
    val dropped = frames.sliding(2).collect {
      case Seq((_, prev), (stage, cur)) =>
        prev.select(col("doc_id"))
          .join(cur.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .withColumn("dropped_at", lit(stage))
    }.toSeq
    val kept = frames.last._2.select(col("doc_id"))
      .withColumn("dropped_at", lit("kept"))
    (packed, funnel, (dropped :+ kept).reduce(_ unionByName _))
  }

  private def runStages(spark: SparkSession, docs: DataFrame,
          benchmarkIds: Column => Column = _ % 97 === 0,
          tokenBudget: Int = 512,
          nearDupThreshold: Double = 0.7,
          maxDupGramFrac: Double = 0.6,
          maxSubstringDupFrac: Double = 0.5,
          domainCap: Long = Long.MaxValue,
          minContainment: Double = 0.8,
          maxJaccard: Double = 0.5,
          maxWinnowDupFrac: Double = 0.5,
          maxAvgNll: Double = Double.PositiveInfinity,
          allowedLangs: Option[Set[String]] = None,
          adaptiveQualityPct: Int = 0)
      : (DataFrame, Seq[Report], Seq[(String, DataFrame)]) = {
    val funnel = Seq.newBuilder[Report]
    // Each stage is MATERIALIZED once (localCheckpoint) before its
    // funnel count: the count then reads cached partitions and — the
    // real point — the next stage starts from materialized data
    // instead of re-evaluating the whole growing prefix (count-only
    // accounting made the S-stage pipeline do O(S²) prefix work, and
    // the decon/substring stages re-derived their sub-frames from
    // unmaterialized parents). At 100 TB the production equivalent is
    // writing each stage's output dataset; localCheckpoint is the
    // local-cluster stand-in with the same single-evaluation contract.
    // The materialized stage frames also feed [[disposition]]'s
    // per-doc drop attribution for free.
    val stageFrames = Seq.newBuilder[(String, DataFrame)]
    def count(stage: String, df: DataFrame): DataFrame = {
      val mat = df.localCheckpoint()
      // one hash-aggregate instead of a bare count: the per-language
      // slice rides the same single job over the materialized frame
      val slice = mat.groupBy("pred_lang")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
      funnel += Report(stage, slice.map(_._2).sum, slice)
      stageFrames += stage -> mat
      mat
    }

    // 0. language ID (one codegen projection; pred_lang is the
    // funnel's language signal from here on) + optional gate
    val classified = LangId.classify(docs, "text")
      .drop(LangId.defaultModel.map { case (l, _) => s"score_$l" }: _*)
    val input = count("input", classified)
    val langGated = count("language_gate",
      allowedLangs.fold(input)(ls =>
        input.filter(col("pred_lang").isin(ls.toSeq.sorted: _*))))

    // 1. exact dedup
    val exact = count("exact_dedup", {
      val survivors = langGated
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      langGated.join(survivors, Seq("doc_id"), "left_semi")
    })

    // 2. near dedup (MinHash+LSH candidates; drop the lower id per
    // pair). A threshold above 1.0 turns the gate OFF and skips the
    // banding work entirely (est-Jaccard never exceeds 1) — the same
    // off-switch idiom as the perplexity gate and domain cap.
    val near = count("near_dedup",
      if (nearDupThreshold > 1.0) exact
      else {
        val losers = Dedup.minhashDedup(exact, "doc_id", "text",
            threshold = nearDupThreshold)
          .select(col("id_b").as("doc_id")).distinct()
        exact.join(losers, Seq("doc_id"), "left_anti")
      })

    // 2b. exact-substring gate (suffix-array criterion, production
    // xxhash64 gram keys): drop documents whose corpus-duplicated span
    // mass exceeds the threshold — catches template/boilerplate-heavy
    // docs whose MinHash similarity to any single other doc stays low
    // (their duplication is spread across MANY partners).
    val substr = count("substring_gate",
      if (maxSubstringDupFrac >= 1.0) near // dup_frac <= 1: gate off
      else {
        val heavy = SubstringDedup
          .profile(near, "doc_id", "text", k = 8, SubstringDedup.xxGram)
          .filter(col("dup_frac") > maxSubstringDupFrac)
          .select("doc_id")
        near.join(heavy, Seq("doc_id"), "left_anti")
      })

    // 2c. containment gate: drop near-subset docs (mostly a quote of a
    // longer survivor — high containment, low Jaccard) that symmetric
    // MinHash banding structurally misses
    val contained = count("containment_gate",
      if (minContainment > 1.0) substr // containment <= 1: gate off
      else {
        val losers = Dedup.containmentGate(substr, "doc_id", "text",
            minContainment = minContainment, maxJaccard = maxJaccard)
          .select(col("contained_id").as("doc_id")).distinct()
        substr.join(losers, Seq("doc_id"), "left_anti")
      })

    // 2d. winnow gate: duplicated-fingerprint fraction over the
    // surviving corpus (Winnowing.fingerprints emits per-doc DISTINCT
    // fps, so the per-fp row count IS the holding-doc count). The
    // per-fp count is a partial-aggregating groupBy joined back on fp
    // — NOT a window over fp: a window materializes every (doc, fp)
    // row of a fingerprint in one task, so one boilerplate fp shared
    // by millions of docs becomes single-task skew at 100 TB, while
    // the groupBy map-side-combines the hot key down to one row per
    // partition before the shuffle. The batch twin of the streaming
    // content gate — see the stage-2d scaladoc above.
    val winnowed = count("winnow_gate",
      if (maxWinnowDupFrac >= 1.0) contained // frac <= 1: gate off
      else contained.join(winnowHeavy(contained, maxWinnowDupFrac),
        Seq("doc_id"), "left_anti"))

    // 3. decontamination vs the benchmark slice
    val decon = count("decontaminate", {
      val sh = winnowed
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
                explode(TextFunctions.wordShingles(col("toks"), 3)).as("sh"))
      val bench = sh.filter(benchmarkIds(col("doc_id"))).select("sh").distinct()
      val contaminated = sh.filter(!benchmarkIds(col("doc_id")))
        .join(broadcast(bench), "sh").select("doc_id").distinct()
      winnowed.filter(!benchmarkIds(col("doc_id")))
        .join(contaminated, Seq("doc_id"), "left_anti")
    })

    // 4. quality gate
    val quality = count("quality_gate", {
      val toks = TextFunctions.tokens(col("text"))
      decon
        .filter(col("n_chars") >= 64 && col("n_chars") <= 4096)
        .filter(size(toks) >= 8)
    })

    // 4b. per-language adaptive quality gate (off unless pct > 0):
    // drop each predicted language's bottom pct% by type-token ratio
    val adapted = count("adaptive_quality",
      if (adaptiveQualityPct == 0) quality
      else AdaptiveGate.dropBottom(
        quality.withColumn("__ttr", TextFunctions.typeTokenRatio(col("text"))),
        "pred_lang", "__ttr", "doc_id", adaptiveQualityPct)
        .drop("__ttr"))

    // 5. repetition gate: duplicate-2-gram fraction, computed per-row
    val repGated = count("repetition_gate",
      repetitionGate(adapted, maxDupGramFrac))

    // 5b. model-based perplexity gate (off unless maxAvgNll is set):
    // Kneser-Ney bigram model fit on the CURRENT survivors, documents
    // whose average bigram nll exceeds the threshold (token salad, OCR
    // noise) drop. Docs too short for a bigram carry no evidence and
    // are kept.
    val perpGated = count("perplexity_gate",
      if (maxAvgNll == Double.PositiveInfinity) repGated
      else {
        // ONE tokenize + bigram-explode pass feeds fit AND score
        val db = graft.operators.KnLm.docBigrams(repGated, "doc_id", "text")
          .localCheckpoint()
        val m = graft.operators.KnLm.fitFromBigrams(db)
        val bad = graft.operators.KnLm.scoreFromBigrams(db, "doc_id", m)
          .filter(col("avg_nll") > maxAvgNll).select("doc_id")
        repGated.join(bad, Seq("doc_id"), "left_anti")
      })

    // 6. per-source (domain) cap in deterministic hash order
    val capped = count("domain_cap",
      if (domainCap == Long.MaxValue) perpGated
      else {
        val w = Window.partitionBy(col("source"))
          .orderBy(md5(concat(lit("cap:"), col("doc_id").cast("string"))),
                   col("doc_id"))
        perpGated.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= domainCap).drop("__rk")
      })

    // 7. deterministic per-language sample
    val sampled = count("hash_sample", {
      val bucket = pmod(
        conv(substring(md5(encode(concat(lit("smp:"),
          col("doc_id").cast("string")), "UTF-8")), 1, 8), 16, 10)
          .cast("long"), lit(1000))
      val rate = when(col("pred_lang") === "en", 800).otherwise(900)
      capped.filter(bucket < rate)
    })

    // 8. sequence packing (per PREDICTED language — the bin key a
    // label-free production corpus actually has)
    val w = Window.partitionBy(col("pred_lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = sampled
      .withColumn("tok", TextFunctions.tokenCount(col("text")))
      .withColumn("bin",
        floor((sum(col("tok")).over(w) - col("tok")) / lit(tokenBudget)))

    (packed, funnel.result(), stageFrames.result())
  }

  /** Stage-5 gate: keeps documents whose duplicate word-2-gram
    * fraction is at most `maxDupGramFrac`. Shared with the streaming
    * twin ([[graft.streaming.StreamingCuration]]), so both funnels gate
    * through the same kernel. */
  def repetitionGate(docs: DataFrame, maxDupGramFrac: Double): DataFrame =
    docs.filter(dupBigramFrac(col("text")) <= maxDupGramFrac)

  /** Stage-2d heavy set: doc_ids whose duplicated-fingerprint fraction
    * exceeds `maxWinnowDupFrac`. Winnowing.fingerprints emits per-doc
    * DISTINCT fps, so the per-fp row count IS the holding-doc count.
    * The per-fp count is a partial-aggregating groupBy joined back on
    * fp — NOT a window over fp: a window materializes every (doc, fp)
    * row of a fingerprint in one task, so one boilerplate fp shared by
    * millions of docs becomes single-task skew at 100 TB, while the
    * groupBy map-side-combines the hot key down to one row per
    * partition before the shuffle. Package-visible so PlanShapeSpec
    * can pin the no-window-over-fp invariant. */
  private[graft] def winnowHeavy(docs: DataFrame,
                                 maxWinnowDupFrac: Double): DataFrame = {
    val wf = Winnowing.fingerprints(docs, "doc_id", "text", k = 8, w = 4)
    val fpCounts = wf.groupBy("fp").agg(count(lit(1)).as("__nd"))
    wf.join(fpCounts, Seq("fp"))
      .groupBy("doc_id")
      .agg((sum(when(col("__nd") >= 2, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("__wfrac"))
      .filter(col("__wfrac") > maxWinnowDupFrac)
      .select("doc_id")
  }
}

/** CLI: runMain graft.pipelines.RunCuration <docsParquet> <outDir>
  * Writes the packed corpus partitioned by (lang, bin) and prints the
  * funnel as one JSON line. */
object RunCuration {
  def main(args: Array[String]): Unit = {
    val Array(docsPath, outDir) = args.take(2)
    val spark = graft.GraftSession.local()
    val (packed, funnel) = CurationPipeline.run(
      spark, spark.read.parquet(docsPath))
    packed.repartition(col("pred_lang"))
      .write.mode("overwrite").partitionBy("pred_lang").parquet(outDir)
    println(funnel.map(r => s""""${r.stage}":${r.docs}""")
      .mkString("{\"funnel\":{", ",", "}}"))
    spark.stop()
  }
}
