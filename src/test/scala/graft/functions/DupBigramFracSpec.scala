package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.{GraftTestBase, Tables}
import graft.functions.expressions.DupBigramFrac

class DupBigramFracSpec extends GraftTestBase {

  /** The composed form the curation repetition gate used before the
    * kernel: the value the kernel must reproduce bit for bit. */
  private def withComposed(df: DataFrame): DataFrame = {
    val grams = expr(
      "transform(sequence(1, greatest(size(ws) - 1, 1)), i -> concat(element_at(ws, i), ' ', element_at(ws, least(i + 1, size(ws)))))")
    df.withColumn("ws", split(col("t"), " "))
      .withColumn("composed",
        lit(1.0) - size(array_distinct(grams)).cast("double") /
          size(grams).cast("double"))
      .drop("ws")
  }

  private def bytes(s: String) = s.getBytes("UTF-8")
  private def hex(h: String) = h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val sevenHundred = {
    val r = new scala.util.Random(7)
    Seq.fill(700)(s"w${r.nextInt(120)}").mkString(" ")
  }

  /** (label, raw bytes or null, expected value where the spec pins it) */
  private val cases: Seq[(String, Array[Byte], Option[Double])] = Seq(
    ("null", null, Some(0.0)),
    ("empty", bytes(""), Some(0.0)),
    ("one word", bytes("a"), Some(0.0)),
    ("all repeats", bytes("a a a a"), Some(0.6666666666666667)),
    ("leading, double and trailing spaces", bytes(" a  b "), None),
    ("only spaces", bytes("   "), None),
    ("non-BMP", bytes("😀 x 😀 x"), Some(0.33333333333333337)),
    ("tabs and newlines are not split points", bytes("a\tb a\tb\na b a"), None),
    ("accented", bytes("ünï cödé ünï cödé naïve"), None),
    ("700 words", bytes(sevenHundred), None),
    // split() decodes through java.lang.String: distinct malformed
    // bytes all become U+FFFD, so these words compare EQUAL
    ("malformed bytes", hex("ff206120fe2061"), Some(0.33333333333333337)),
    ("overlong encodings", hex("c0af207820c1bf2078"), Some(0.33333333333333337)),
    ("encoded surrogates", hex("eda080207820edbfbf2078"), Some(0.33333333333333337)))

  private def frame(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("b", BinaryType)))
    // an RDD, not a LocalRelation: the optimizer must not fold the
    // projection, so the configured factory mode really evaluates it
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (i, b) => Row(i, b) }, 2),
        schema)
      .select(col("id"), col("b").cast("string").as("t"))
  }

  private def generatedCorpus(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val vocab = Vector("the", "a", "of", "x", "y", "", "ü", "日本", "😀", "tab\tword",
      "line\nbreak") ++ (0 until 40).map(i => s"v$i")
    Seq.fill(n) {
      val words = Seq.fill(r.nextInt(60))(vocab(r.nextInt(
        if (r.nextBoolean()) 6 else vocab.size)))
      val sep = if (r.nextInt(4) == 0) "  " else " "
      val lead = if (r.nextInt(5) == 0) " " else ""
      lead + words.mkString(sep) + (if (r.nextInt(5) == 0) " " else "")
    }
  }

  /** Runs kernel and composed form side by side under `mode` and
    * returns (id, kernel, composed) per row. */
  private def evaluate(df: DataFrame, mode: String): Seq[(Long, Double, Double)] = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString)
    val prev = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = withComposed(df)
        .select(col("id"), DupBigramFrac.dupBigramFrac(col("t")).as("kernel"),
          col("composed"))
      val staged = out.queryExecution.executedPlan.exists(
        _.isInstanceOf[WholeStageCodegenExec])
      assert(staged == (mode == "CODEGEN_ONLY"), s"whole-stage codegen under $mode")
      out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def assertBitIdentical(rows: Seq[(Long, Double, Double)], label: Long => String): Unit =
    rows.foreach { case (id, kernel, composed) =>
      assert(java.lang.Double.doubleToRawLongBits(kernel) ==
        java.lang.Double.doubleToRawLongBits(composed),
        s"${label(id)}: kernel $kernel, composed $composed")
    }

  for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
    test(s"edge cases are bit-identical to the composed form ($mode)") {
      val rows = evaluate(
        frame(cases.zipWithIndex.map { case ((_, b, _), i) => (i.toLong, b) }), mode)
      assert(rows.size == cases.size)
      assertBitIdentical(rows, id => cases(id.toInt)._1)
      rows.foreach { case (id, kernel, _) =>
        cases(id.toInt)._3.foreach(want =>
          assert(kernel == want, s"${cases(id.toInt)._1}: $kernel != $want"))
      }
    }

    test(s"every row of a seeded generated corpus is bit-identical ($mode)") {
      val corpus = generatedCorpus(301L, 400)
      val rows = evaluate(
        frame(corpus.zipWithIndex.map { case (t, i) => (i.toLong, bytes(t)) }), mode)
      assert(rows.size == corpus.size)
      assert(rows.exists(_._2 > 0.0) && rows.exists(_._2 == 0.0))
      assertBitIdentical(rows, id => s"doc $id ${corpus(id.toInt).take(40)}")
    }
  }

  test("malformed UTF-8 compares as split() decodes it, not byte for byte") {
    // called on the raw bytes, so no cast can have sanitized them first
    val k = DupBigramFrac(org.apache.spark.sql.catalyst.expressions.Literal(""))
    for (h <- Seq("ff206120fe2061", "c0af207820c1bf2078", "eda080207820edbfbf2078"))
      assert(k.compute(org.apache.spark.unsafe.types.UTF8String.fromBytes(hex(h))) ==
        0.33333333333333337, h)
  }

  test("every sf0.001 document is bit-identical") {
    val docs = Tables(spark, sf001)("documents")
      .select(col("doc_id").as("id"), col("text").as("t"))
    val rows = withComposed(docs)
      .select(col("id"), DupBigramFrac.dupBigramFrac(col("t")), col("composed"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows.size == 500)
    assertBitIdentical(rows, id => s"doc_id $id")
  }
}
