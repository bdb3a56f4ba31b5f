package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.DecimalFold

/** Kernel-only passes over the library's vector expressions: the
  * registered SQL function `cosine_similarity` and the exact decimal
  * dot product `DecimalFold.dot`, each over every pair drawn from two
  * seeded sets of embedding-like vectors. A baseline pass reads the same
  * pairs without the kernel; a kernel's wall time per pair is the median
  * of its passes minus the median of the baseline's, over [[Rounds]]
  * interleaved rounds after one warm-up round. Every pass is an
  * operation, checked against sums computed from the generator. */
object Kernels {

  val Dim = 128
  val Right = 1024 // right-hand vectors of every pair
  val CosineLeft = 1024 // cosine: CosineLeft x Right pairs
  val FoldLeft = 8 // decimal fold: FoldLeft x Right pairs, Dim terms each
  val Rounds = 3
  val Tol = 1e-9 // relative tolerance of a sum of doubles over pairs

  /** Reference cosine: double accumulation in index order. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Reference exact dot product: every term rounded half-up to nine
    * decimals, summed exactly. */
  def decimalDot(a: Array[Float], b: Array[Float]): Double =
    a.indices.foldLeft(java.math.BigDecimal.ZERO) { (acc, i) =>
      acc.add(java.math.BigDecimal.valueOf(a(i).toDouble * b(i).toDouble)
        .setScale(9, java.math.RoundingMode.HALF_UP))
    }.doubleValue

  /** Run the passes inside the operation `crawl.kernels`; every pass is
    * attempted on `out`. Returns the `expressions.*` metrics. */
  def run(spark: SparkSession, seed: Long, cores: Int, tr: Tracer,
      out: Stats.Outcome, log: String => Unit): Report.Metrics = {
    import spark.implicits._
    val n = CosineLeft + Right
    val vs = (0 until n).map(Gen.vector(seed, _, Dim))
    val want = Map(
      "cosine" -> (0 until CosineLeft).map(i =>
        (CosineLeft until n).map(j => cosine(vs(i), vs(j))).sum).sum,
      "decimalfold" -> (0 until FoldLeft).map(i =>
        (CosineLeft until n).map(j => decimalDot(vs(i), vs(j))).sum).sum)
    val vecs = spark.sparkContext.parallelize(0 until n, cores)
      .map(i => (i, Gen.vector(seed, i, Dim))).toDF("id", "v").cache()
    try {
      vecs.count()
      val ys = vecs.where(col("id") >= CosineLeft).select(col("v").as("y"))
      def pairs(left: Int): DataFrame =
        vecs.where(col("id") < left).select(col("v").as("x")).crossJoin(ys)
      val passes: Seq[(String, DataFrame, String)] = Seq(
        ("cosine_base", pairs(CosineLeft), "bench.kernel_base"),
        ("cosine", pairs(CosineLeft).select(expr("cosine_similarity(x, y)")), "expressions.cosine"),
        ("decimalfold_base", pairs(FoldLeft), "bench.kernel_base"),
        ("decimalfold", pairs(FoldLeft).select(DecimalFold.dot(col("x"), col("y"))),
          "expressions.decimalfold"))
      val times = passes.map(_._1 -> collection.mutable.ArrayBuffer.empty[Double]).toMap
      for (round <- 0 to Rounds; (name, df, span) <- passes) {
        // a baseline reads both vectors of every pair; a kernel pass sums its result
        val agg = if (name.endsWith("_base")) sum(size(col("x")) + size(col("y")))
          else sum(col(df.columns.head))
        val (v, wallS, _) = Bench.timed(tr.op("crawl.kernels")(
          tr.span(span)(df.agg(agg).head().get(0))))
        if (round > 0) times(name) += wallS
        val ok = v match {
          case l: java.lang.Long => l == 2L * Dim * Right * (if (name == "cosine_base") CosineLeft else FoldLeft)
          case d: java.lang.Double => math.abs(d - want(name)) <= math.abs(want(name)) * Tol
          case _ => false
        }
        if (!ok) log(s"kernel pass $name returned $v, expected ${want.getOrElse(name, "a count")}")
        out.attempt(ok)
      }
      def perUnit(kernel: String, units: Long): Double =
        (Stats.median(times(kernel).toSeq) - Stats.median(times(kernel + "_base").toSeq)) * 1e9 / units
      val cosPairs = CosineLeft.toLong * Right
      val foldTerms = FoldLeft.toLong * Right * Dim
      val mb = 1024.0 * 1024.0
      log(f"kernels: pass wall s ${times.toSeq.sortBy(_._1).map { case (k, t) => s"$k ${t.map(x => f"$x%.3f").mkString("/")}" }.mkString(", ")}")
      Seq(
        ("expressions.cosine_ns_per_pair", perUnit("cosine", cosPairs), "ns"),
        ("expressions.cosine_pairs", cosPairs.toDouble, "count"),
        ("expressions.cosine_mb", cosPairs * 2 * Dim * 4 / mb, "MB"),
        ("expressions.decimalfold_ns_per_term", perUnit("decimalfold", foldTerms), "ns"),
        ("expressions.decimalfold_terms", foldTerms.toDouble, "count"),
        ("expressions.decimalfold_mb", FoldLeft.toLong * Right * 2 * Dim * 4 / mb, "MB"))
    } finally vecs.unpersist(blocking = true)
  }
}
