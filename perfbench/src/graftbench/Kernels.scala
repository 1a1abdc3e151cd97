package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SasDate, VectorFunctions}
import graft.functions.expressions.{AdcDist, Md5Prefix, MinHashSignature, SasToDate}

/** Kernel probe of the traced run: each native expression against its
  * composed twin, through public entry points, on fixed generated columns.
  * Both forms must agree row for row (a mismatch is a failed operation);
  * the metrics are nanoseconds per row of the native form and its time
  * over the twin's. */
object Kernels {
  final case class Kernel(name: String, rows: Long, input: () => DataFrame,
                          native: Column, twin: Column)

  val Reps = 3

  def probe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    def range(n: Long) = spark.range(0, n, 1, ctx.args.cpus)
    def vec(s: Long, dim: Int) =
      array((0 until dim).map(i => (rand(s * 131 + i) * 2 - 1).cast("float")): _*)

    val dim = 64
    val (m, subDim, nCodes) = (8, 8, 16)
    val rng = new scala.util.Random(seed)
    val codebooks = Seq.fill(m, nCodes, subDim)(rng.nextGaussian())
    val k = 32
    val twinMinhash = array((0 until k).map { i =>
      val (ca, cb) = MinHashSignature.coef(i)
      val p = MinHashSignature.P
      array_min(transform(col("sh"),
        s => (lit(ca) * pmod(xxhash64(s), lit(p)) + lit(cb)) % lit(p)))
    }: _*)

    val kernels = Seq(
      Kernel("vec_dot", 50000L,
        () => range(50000L).select(vec(seed, dim).as("a"), vec(seed + 1, dim).as("b")),
        VectorFunctions.dot(col("a"), col("b")),
        expr("aggregate(zip_with(transform(a, x -> CAST(x AS DOUBLE)), " +
          "transform(b, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), 0D, (acc, x) -> acc + x)")),
      Kernel("md5_prefix", 500000L,
        () => range(500000L).select(concat(lit("w"), (col("id") * 7919 + seed).cast("string")).as("s")),
        Md5Prefix.md5Prefix64(col("s")),
        conv(substring(md5(encode(col("s"), "UTF-8")), 1, 8), 16, 10).cast("long")),
      Kernel("minhash", 20000L,
        () => range(20000L).select(transform(sequence(lit(0), lit(39)),
          j => concat(lit("t"), ((col("id") * 31 + j * 17 + seed) % 5000).cast("string"))).as("sh")),
        MinHashSignature.minhashSignature(col("sh"), k),
        twinMinhash),
      Kernel("sas_to_date", 1000000L,
        () => range(1000000L).select((lit(20545.0) + (col("id") + seed) % 30).as("d")),
        date_format(SasToDate.sasToDate(col("d")), "yyyy-MM-dd"),
        SasDate.toIsoString(col("d"))),
      Kernel("adc", 50000L,
        () => range(50000L).select(
          transform(sequence(lit(0), lit(m - 1)), s => pmod(col("id") * 7 + s * 3 + seed, lit(nCodes)).cast("int")).as("codes"),
          vec(seed + 2, m * subDim).cast("array<double>").as("qv"),
          typedLit(codebooks).as("__cb")),
        AdcDist.adcDist(col("codes"), col("qv"), codebooks),
        expr(s"""aggregate(zip_with(codes, sequence(0, ${m - 1}), (c, s) -> struct(c AS c, s AS s)),
                 0.0D, (acc, p) -> acc + aggregate(
                   zip_with(element_at(element_at(__cb, p.s + 1), p.c + 1),
                            slice(qv, p.s * $subDim + 1, $subDim), (a, b) -> (a - b) * (a - b)),
                   0.0D, (a2, d) -> a2 + d))""")))

    kernels.foreach { kn =>
      val in = kn.input().cache()
      in.count()
      def time(c: Column): Double = {
        val t0 = System.nanoTime()
        in.select(c.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      time(kn.native); time(kn.twin) // warm-up: codegen
      val samples = (1 to Reps).map(_ => (time(kn.native), time(kn.twin)))
      val mismatches = in.filter(!(kn.native <=> kn.twin)).count()
      ctx.check(s"kernel ${kn.name}",
        ctx.expectEq(s"kernel ${kn.name} rows differing from its twin", mismatches, 0L))
      val native = Stats.median(samples.map(_._1))
      val twin = Stats.median(samples.map(_._2))
      ctx.layer(s"kernel.${kn.name}.ns_per_row") = (native / kn.rows * 1e9, "ns")
      ctx.layer(s"kernel.${kn.name}.twin_ratio") = (native / twin, "ratio")
      in.unpersist()
    }
  }
}
