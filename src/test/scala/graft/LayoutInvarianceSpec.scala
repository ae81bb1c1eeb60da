package graft

import org.apache.spark.sql.functions._

import graft.expressions.EntropyAgg
import graft.functions.entropy_agg
import graft.metrics.EntropyMetrics
import graft.util.Partitioning

/** Results that must not depend on how the data is laid out: the same doubles at
  * any shuffle partition count, input partitioning and AQE setting.
  */
class LayoutInvarianceSpec extends SparkSpec {
  import spark.implicits._

  /** 3,000 records in 400 clusters; skewed attribute values with hundreds of
    * distinct counts, so any change of summation order shows in the last bits.
    */
  private lazy val clustered = {
    val rnd = new scala.util.Random(17)
    (0 until 3000).map { i =>
      val zipf = (v: Int) => (math.pow(rnd.nextDouble(), 3) * v).toInt
      (s"r$i", s"c${zipf(400)}", s"a${zipf(900)}", s"b${zipf(60)}",
        if (rnd.nextInt(20) == 0) null else s"n${rnd.nextInt(7)}")
    }.toDF("uid", "cluster_id", "a", "b", "c")
  }
  private val Attrs = Seq("a", "b", "c")

  private def layouts: Seq[(Int, Boolean)] =
    for (parts <- Seq(1, 4, 7); aqe <- Seq(true, false)) yield (parts, aqe)

  private def under[A](parts: Int, aqe: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set(keys(0), parts.toString)
    spark.conf.set(keys(1), aqe.toString)
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("informationGainPowerRatio is the same double at 1, 4 and 7 partitions, AQE on and off") {
    val base = EntropyMetrics.maxDistinct(clustered, Attrs).toInt
    val results = layouts.map { case (parts, aqe) =>
      under(parts, aqe) {
        val df = clustered.repartition(parts, col("uid"))
        (parts, aqe) -> Seq(base, 0).map(b => EntropyMetrics.informationGainPowerRatio(df, Attrs, b))
      }
    }
    val expected = results.head._2
    assert(expected.forall(m => !m.isNaN && !m.isInfinite))
    results.foreach { case (layout, got) =>
      got.zip(expected).foreach { case (g, e) =>
        assert(java.lang.Double.compare(g, e) === 0, s"$layout: $g vs $e")
      }
    }
  }

  test("EntropyAgg is the same double at 1, 4 and 7 partitions, AQE on and off") {
    def run(parts: Int, aqe: Boolean): Seq[(String, Double)] = under(parts, aqe) {
      val df = clustered.repartition(parts, col("uid"))
      def entropies(key: org.apache.spark.sql.Column) = df.groupBy(key.as("g"))
        .agg(entropy_agg(0, Attrs.map(c => c -> col(c)): _*),
          entropy_agg(7, Attrs.map(c => c -> col(c)): _*))
      entropies(pmod(xxhash64(col("cluster_id")), lit(3L))).union(entropies(lit(-1L)))
        .collect()
        .flatMap { r =>
          Seq(1, 2).flatMap(j => Attrs.map(c =>
            s"${r.getLong(0)}/$j/$c" -> r.getMap[String, Double](j)(c)))
        }.sortBy(_._1).toSeq
    }
    val expected = run(4, aqe = true)
    layouts.foreach { case (parts, aqe) =>
      val got = run(parts, aqe)
      assert(got.map(_._1) === expected.map(_._1))
      got.zip(expected).foreach { case ((k, g), (_, e)) =>
        assert(java.lang.Double.compare(g, e) === 0, s"($parts, aqe=$aqe) $k: $g vs $e")
      }
    }
  }

  test("entropy depends on the count multiset only, not on map order") {
    val rnd = new scala.util.Random(3)
    val counts = (0 until 500).map(i => s"v$i" -> (1L + rnd.nextInt(1000))).toMap
    val h = EntropyAgg.entropy(counts, 0)
    (1 to 5).foreach { _ =>
      val shuffled = scala.collection.mutable.LinkedHashMap(rnd.shuffle(counts.toSeq): _*)
      assert(java.lang.Double.compare(EntropyAgg.entropy(shuffled, 0), h) === 0)
    }
  }

  test("the driver's exact decimal equals Spark's double → DECIMAL(38,18) cast") {
    val rnd = new scala.util.Random(9)
    val xs = Seq(0.0, 1.0, 0.1, 1e-19, 5e-19, 1.5e-18, 2.5e-18, 0.30102999566398120,
      1.0 / 3, 2.0 / 3, 12345.678901234567, 1e-7) ++
      (1 to 2000).map(_ => rnd.nextDouble() * math.pow(10, rnd.nextInt(8) - 4))
    val cast = xs.toDF("x").select(col("x").cast("decimal(38,18)")).collect()
      .map(_.getDecimal(0))
    xs.zip(cast).foreach { case (x, c) =>
      assert(EntropyMetrics.exact(x) === c, s"$x")
    }
  }

  test("stateFromSource: a missing source is empty, other filesystem errors propagate") {
    val missing = java.nio.file.Files.createTempDirectory("state-src").resolve("absent")
    assert(Partitioning.stateFromSource(spark, missing.toString, 1L) === 1)
    intercept[java.io.IOException](
      Partitioning.stateFromSource(spark, "nosuchscheme://host/feed", 1L))
  }
}
