package graft.pipelines

import org.apache.spark.sql.functions._

import graft.{GraftTestBase, Tables}
import graft.functions.TextFunctions

class CurationPipelineSpec extends GraftTestBase {

  private lazy val (packed, funnel) =
    CurationPipeline.run(spark, Tables(spark, sf001)("documents"))

  test("funnel is monotone and reports every stage") {
    assert(funnel.map(_.stage) == Seq("input", "language_gate",
      "exact_dedup", "near_dedup", "substring_gate", "containment_gate",
      "winnow_gate", "decontaminate", "quality_gate", "adaptive_quality",
      "repetition_gate", "perplexity_gate", "domain_cap", "hash_sample"))
    // every stage's per-language slice sums to its count
    assert(funnel.forall(r => r.byLang.map(_._2).sum == r.docs))
    assert(funnel.sliding(2).forall { case Seq(a, b) => b.docs <= a.docs })
    assert(funnel.head.docs == 500) // sf0.001 documents
    assert(funnel.last.docs > 0, "pipeline filtered everything out")
  }

  test("funnel counts on sf0.001 are pinned stage by stage") {
    // a change to any gate's arithmetic (the repetition kernel above
    // all) moves these; the tight-threshold run makes stage 5 drop
    // documents so its own count is pinned, not just passed through
    val counts = funnel.map(_.docs)
    val tight = CurationPipeline.run(spark, Tables(spark, sf001)("documents"),
      maxDupGramFrac = 0.05)._2.map(_.docs)
    assert(counts == Seq[Long](500, 500, 500, 476, 476, 475, 475, 250,
      238, 238, 238, 238, 238, 200))
    assert(tight == Seq[Long](500, 500, 500, 476, 476, 475, 475, 250,
      238, 238, 195, 195, 195, 164))
  }

  test("domain cap bounds per-source counts and keeps determinism") {
    val (cappedRun, f) = CurationPipeline.run(
      spark, Tables(spark, sf001)("documents"), domainCap = 5L)
    val perSource = cappedRun.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getAs[Long]("count") <= 5))
    assert(f.find(_.stage == "domain_cap").get.docs <=
           f.find(_.stage == "repetition_gate").get.docs)
    val (cappedAgain, _) = CurationPipeline.run(
      spark, Tables(spark, sf001)("documents"), domainCap = 5L)
    assert(cappedRun.exceptAll(cappedAgain).isEmpty)
  }

  test("repetition gate drops a synthetic highly-repetitive doc") {
    import spark.implicits._
    // Repeated 2-grams ("x y"/"y x" dominate → dup-2-gram frac ≈ 0.66)
    // but a unique token every 6 positions, so every word-8-gram is
    // distinct and the doc sails PAST the substring gate — this pins
    // that the repetition gate still has its own catch surface. (The
    // old "x y "×200 plant is now caught earlier by the substring
    // gate, which is the correct funnel order.)
    def u(j: Int) = s"u${('a' + j / 26).toChar}${('a' + j % 26).toChar}"
    val repetitive = (0 until 30).map(j => s"x y x y x ${u(j)}").mkString(" ")
    val docs = Tables(spark, sf001)("documents")
      .unionByName(Seq((100001L, repetitive, "en", "srcX", repetitive.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val (out, f) = CurationPipeline.run(spark, docs)
    assert(out.filter(col("doc_id") === 100001L).count() == 0,
      "repetitive doc survived the gate")
    // and the stage (not an earlier one) dropped it: it reaches quality
    assert(f.find(_.stage == "quality_gate").get.docs >
           f.find(_.stage == "repetition_gate").get.docs)
  }

  test("substring gate drops a patchwork doc invisible to pairwise MinHash") {
    import spark.implicits._
    // four source docs: a 30-token run (copied into the patchwork) plus
    // a 50-token unique tail → per-doc duplicated mass 30/80 < 0.5, and
    // pairwise char-shingle jaccard vs the patchwork stays far below
    // the 0.7 near-dup threshold. The patchwork concatenates all four
    // runs → its duplicated mass is ~1.0, but spread across FOUR
    // partners, which is exactly what pairwise similarity can't see.
    def word(p: Char, i: Int, j: Int) =
      s"$p${('a' + i).toChar}${('a' + j / 26).toChar}${('a' + j % 26).toChar}"
    def run(i: Int) = (0 until 30).map(word('r', i, _)).mkString(" ")
    def tail(i: Int) = (0 until 50).map(word('u', i, _)).mkString(" ")
    val sources = (0 until 4).map(i =>
      (200001L + i, s"${run(i)} ${tail(i)}", "en", "srcP", 400L))
    val patchwork = (200000L, (0 until 4).map(run).mkString(" "), "en", "srcP", 600L)
    val docs = Tables(spark, sf001)("documents")
      .unionByName((sources :+ patchwork)
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // the gate's own signal discriminates: patchwork > 0.5, sources < 0.5
    val prof = graft.operators.SubstringDedup
      .profile(docs, "doc_id", "text", 8, graft.operators.SubstringDedup.xxGram)
      .filter(col("doc_id") >= 200000L)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(prof(200000L) > 0.5, s"patchwork dup_frac ${prof.get(200000L)}")
    (200001L to 200004L).foreach(id =>
      assert(prof.getOrElse(id, 0.0) <= 0.5, s"source $id over-flagged"))
    // and the pipeline drops the patchwork at the substring stage
    val (out, f) = CurationPipeline.run(spark, docs)
    assert(out.filter(col("doc_id") === 200000L).count() == 0,
      "patchwork doc survived curation")
    assert(f.find(_.stage == "substring_gate").get.docs <
           f.find(_.stage == "near_dedup").get.docs)
  }

  test("containment gate drops a near-subset doc the other gates can't see") {
    import spark.implicits._
    // Big doc B: 200 long pseudo-random letter-only words. Small doc S:
    // 60 of B's words in REVERSED order. Why each earlier gate misses S:
    //   - near-dup: shingle jaccard(S, B) ≈ |S|/|B| ≈ 0.26 < 0.7;
    //   - substring gate: S's word-8-gram SEQUENCES never occur in B
    //     (order reversed), so S has zero duplicated spans;
    //   - but S's 5-char shingle SET is ~87% inside B's (only shingles
    //     crossing a word boundary see the reordering) → containment
    //     ≥ 0.8 while jaccard < 0.5: exactly the near-subset signature.
    def word(i: Int) = {
      val r = new scala.util.Random(i) // deterministic per word
      (0 until 30).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val big = (0 until 200).map(word).mkString(" ")
    val small = (50 until 110).map(word).reverse.mkString(" ")
    val docs = Tables(spark, sf001)("documents")
      .unionByName(Seq(
        (400001L, big, "en", "srcC", big.length.toLong),
        (400002L, small, "en", "srcC", small.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // the operator's own signal discriminates the planted pair
    val pair = graft.operators.Dedup
      .containmentScores(docs, "doc_id", "text")
      .filter(col("qid") === 400002L && col("did") === 400001L)
      .collect()
    assert(pair.length == 1, "planted subset pair not surfaced")
    assert(pair.head.getAs[Double]("containment") >= 0.8,
      s"containment ${pair.head.getAs[Double]("containment")}")
    assert(pair.head.getAs[Double]("jaccard") < 0.5,
      s"jaccard ${pair.head.getAs[Double]("jaccard")}")
    // and the pipeline drops S exactly at the containment stage
    val (_, _, disp) = CurationPipeline.runWithDisposition(spark, docs)
    val at = disp.filter(col("doc_id") === 400002L)
      .collect().map(_.getAs[String]("dropped_at"))
    assert(at.toSeq == Seq("containment_gate"),
      s"small doc disposition: ${at.mkString(",")}")
  }

  test("perplexity gate drops a token-salad doc when enabled") {
    import spark.implicits._
    val corpus = Tables(spark, sf001)("documents")
    // fluent plant: a greedy bigram walk that never REUSES a bigram —
    // every step is a high-count corpus bigram (low KN nll) but the
    // walk's own 2-grams stay distinct (passes the repetition gate)
    // and its 8-gram runs are novel recombinations (passes the winnow
    // gate). salad plant: vocabulary words in hash order — adjacent
    // pairs barely exist in the model.
    val (fluent, salad) = graft.TestCorpusPlants.fluentAndSalad(corpus)
    val docs = corpus.unionByName(Seq(
      (600001L, fluent, "en", "srcQ", fluent.length.toLong),
      (600002L, salad, "en", "srcQ", salad.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // threshold: midpoint of the plants' scores under a corpus-fit
    // model (the gate's survivor-fit model differs by a handful of
    // dropped docs — far less than the fluent/salad gap)
    import graft.operators.KnLm
    val m = KnLm.fit(corpus, "doc_id", "text")
    val nll = KnLm.score(docs.filter(col("doc_id") >= 600001L),
        "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_nll")).toMap
    assert(nll(600002L) > nll(600001L) + 0.5,
      s"plants not separated: $nll")
    val thr = (nll(600001L) + nll(600002L)) / 2
    val (_, _, disp) = CurationPipeline.runWithDisposition(
      spark, docs, maxAvgNll = thr)
    val at = disp.filter(col("doc_id") >= 600001L).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("dropped_at")).toMap
    assert(at(600002L) == "perplexity_gate", s"salad: ${at(600002L)}")
    assert(at(600001L) != "perplexity_gate", s"fluent: ${at(600001L)}")
  }

  test("language gate drops a predicted-German doc and slices the report") {
    import spark.implicits._
    // strongly German-scoring plant (der/sch/und/die/ich/zu/ein
    // trigrams), long enough to survive the quality gate otherwise
    val german = Seq.fill(6)(
      "der schnelle fuchs und die schule ich gehe zu einem schoenen haus")
      .mkString(" ")
    val docs = Tables(spark, sf001)("documents")
      .unionByName(Seq((900001L, german, "de", "srcL", german.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val (_, funnel, disp) = CurationPipeline.runWithDisposition(
      spark, docs, allowedLangs = Some(Set("en")))
    val at = disp.filter(col("doc_id") === 900001L)
      .collect().map(_.getAs[String]("dropped_at"))
    assert(at.toSeq == Seq("language_gate"),
      s"german plant disposition: ${at.mkString(",")}")
    // the gated stage's slice carries ONLY the allowed language
    val gateSlice = funnel.find(_.stage == "language_gate").get.byLang
    assert(gateSlice.map(_._1).toSet == Set("en"), s"slice: $gateSlice")
    // and the input slice saw the plant's language
    val inSlice = funnel.find(_.stage == "input").get.byLang.toMap
    assert(inSlice.getOrElse("de", 0L) >= 1L, s"input slice: $inSlice")
  }

  test("adaptive quality gate drops each language's exact bottom decile") {
    val (_, f) = CurationPipeline.run(
      spark, Tables(spark, sf001)("documents"), adaptiveQualityPct = 10)
    val quality = f.find(_.stage == "quality_gate").get.byLang.toMap
    val adapted = f.find(_.stage == "adaptive_quality").get.byLang.toMap
    assert(quality.nonEmpty)
    quality.foreach { case (lang, n) =>
      assert(adapted.getOrElse(lang, 0L) == n - n * 10 / 100,
        s"$lang: $n -> ${adapted.get(lang)}")
    }
  }

  test("output carries no exact duplicates and no benchmark docs") {
    val out = packed.cache()
    val fps = out.select(TextFunctions.fingerprint(col("text")).as("fp"))
    assert(fps.count() == fps.distinct().count(), "exact dups survived")
    assert(out.filter(pmod(col("doc_id"), lit(97)) === 0).count() == 0,
      "benchmark docs leaked into the corpus")
  }

  test("bins respect the token budget given each doc fits it") {
    // cumsum packing guarantees: every bin's token total stays under
    // budget + the largest single doc (a doc bigger than the budget
    // gets its own bin). With sf0.001 docs well under 512 tokens, each
    // bin except a language's last must be CLOSE to full too.
    val bins = packed.groupBy(col("pred_lang"), col("bin"))
      .agg(sum(col("tok")).as("total"), max(col("tok")).as("biggest"))
    val over = bins.filter(col("total") > lit(512) + col("biggest"))
    assert(over.count() == 0, "a bin exceeds budget + one document")
  }

  test("packing is deterministic across runs") {
    val (again, _) = CurationPipeline.run(spark, Tables(spark, sf001)("documents"))
    assert(packed.exceptAll(again).isEmpty && again.exceptAll(packed).isEmpty)
  }

  test("disposition attributes every input doc to exactly one stage") {
    val (_, funnel, disp) = CurationPipeline.runWithDisposition(
      spark, Tables(spark, sf001)("documents"))
    val byStage = disp.groupBy("dropped_at").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // partition: one disposition row per input doc
    assert(byStage.values.sum == funnel.head.docs)
    assert(disp.select("doc_id").distinct().count() == funnel.head.docs)
    // per-stage drop counts equal the funnel deltas
    funnel.sliding(2).foreach { case Seq(prev, cur) =>
      assert(byStage.getOrElse(cur.stage, 0L) == prev.docs - cur.docs,
        s"stage ${cur.stage}")
    }
    assert(byStage("kept") == funnel.last.docs)
  }
}
