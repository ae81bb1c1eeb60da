package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.clean.Cleaning
import graft.expressions.EntropyAgg
import graft.functions.entropy_agg

/** Y7/Y8/Y9 — the unsupervised clustering quality metric
  * (reference: autolinker.py:114-223; math documented in its README.md:46-76).
  */
object EntropyMetrics {

  /** Y7 — average entropy of each attribute column; `byCluster` averages the
    * per-cluster entropies instead (one distributed aggregation either way).
    */
  def datasetEntropy(
      df: DataFrame,
      attributes: Seq[String],
      byCluster: Boolean = false,
      base: Int = 0): Map[String, Double] = {
    val grouped = Cleaning.nullSentinel(
        df.select((attributes.map(c => col(c).cast("string").as(c)) ++
          (if (byCluster) Seq(col("cluster_id")) else Nil)): _*),
        attributes)
      .groupBy(if (byCluster) col("cluster_id") else lit(1).as("g"))
      .agg(entropy_agg(base, attributes.map(c => c -> col(c)): _*).as("ent_map"))
    val row = grouped
      .select(attributes.map(c => mean(col("ent_map").getItem(c)).as(c)): _*)
      .collect()(0)
    attributes.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0.0 else row.getDouble(i))
    }.toMap
  }

  /** Y9 — adjusted entropy base: max #distinct values in any attribute column, in one
    * aggregation pass (the reference runs one groupBy-count job per column,
    * autolinker.py:597-602 — same number, fewer jobs).
    */
  def maxDistinct(df: DataFrame, attributes: Seq[String]): Long = {
    val row = df.agg(
      greatest(attributes.map(c => countDistinct(col(c)).cast("long")): _*).as("u"))
      .collect()(0)
    row.getLong(0)
  }

  /** The base whose `entropy_agg` output is the raw log10 entropy (divisor
    * `log10(10) = 1.0`). Every positive base is applied after aggregation, so the
    * scaled base (the cluster count) need not be known before the one job runs.
    */
  private val RawBase = 10

  /** Exact, order-independent per-cluster sums: each entropy is cast to this type
    * (Spark's double → decimal cast: shortest decimal string, HALF_UP to 18
    * places) and summed exactly, so neither partitioning nor merge order can move
    * the last bit. [[exact]] is the same conversion on the driver.
    */
  private val SumType = org.apache.spark.sql.types.DecimalType(38, 18)

  private[graft] def exact(d: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(SumType.scale, java.math.RoundingMode.HALF_UP)

  /** Sufficient statistics of one entropy family, per attribute: the whole-matched
    * entropy and the sum of the per-cluster entropies, both through [[exact]].
    */
  private case class EntropySums(
      whole: Seq[java.math.BigDecimal],
      perCluster: Seq[java.math.BigDecimal])

  /** Y8 from its sufficient statistics — the one final step both feeders share
    * ([[informationGainPowerRatio]] in Spark, [[informationGainPowerRatioLocal]]
    * on the driver), so equal statistics give the same double bit for bit.
    * `raw` holds log10 entropies (base applied here); `adjusted` holds entropies
    * already normalized with a non-positive `adjustedBase` (EntropyAgg's
    * per-group distinct divisor, which cannot be applied afterwards).
    * No matched record gives pow(0, 0) = 1.0, the all-singleton contract.
    */
  private def powerRatio(
      raw: EntropySums,
      adjusted: Option[EntropySums],
      numClusters: Long,
      adjustedBase: Int): Double = {
    if (numClusters == 0) return 1.0
    def gain(e: EntropySums, divisor: Double): Double =
      e.whole.indices.map { i =>
        e.whole(i).doubleValue / divisor -
          e.perCluster(i).doubleValue / divisor / numClusters
      }.sum
    val is = gain(raw, math.log10(numClusters.toDouble))
    val ia = adjusted.fold(gain(raw, math.log10(adjustedBase.toDouble)))(gain(_, 1.0))
    math.pow(is, ia)
  }

  /** Entropy bases the aggregation computes: raw, plus `adjustedBase` itself when
    * it is not positive.
    */
  private def aggBases(adjustedBase: Int): Seq[Int] =
    RawBase +: (if (adjustedBase > 0) Nil else Seq(adjustedBase))

  /** Y8 — information-gain power ratio `I_s ^ I_a` over a clustered dataset:
    * scaled base c = #non-singleton clusters, adjusted base u from the caller (Y9 on the
    * original data); each I = Σ_cols (whole-matched entropy − mean per-cluster entropy).
    *
    * One query: the whole-matched and per-cluster groupings ride one GROUPING SETS
    * aggregation with one raw `entropy_agg` buffer (both bases are applied after
    * it, so the cluster count is folded into the same job rather than counted
    * first), and one follow-up aggregate picks the whole row, sums the per-cluster
    * entropies exactly and counts the clusters. Every sum is order-independent, so
    * the result is the same double at any partitioning or AQE setting. Empty input
    * yields the all-singleton 1.0.
    */
  def informationGainPowerRatio(
      clusters: DataFrame,
      attributes: Seq[String],
      adjustedBase: Int): Double = {
    val counts = clusters.groupBy("cluster_id").count()
      .withColumnRenamed("count", "_cluster_count")
    val matched = clusters.join(counts, Seq("cluster_id"), "left")
      .filter(col("_cluster_count") > 1)
    val bases = aggBases(adjustedBase)
    val grouped = Cleaning.nullSentinel(
        matched.select((attributes.map(c => col(c).cast("string").as(c)) :+
          col("cluster_id")): _*),
        attributes)
      .groupingSets(Seq(Seq.empty, Seq(col("cluster_id"))), col("cluster_id"))
      .agg(grouping(col("cluster_id")).as("_g"),
        bases.zipWithIndex.map { case (b, j) =>
          entropy_agg(b, attributes.map(c => c -> col(c)): _*).as(s"_e$j")
        }: _*)
    def ent(j: Int, c: String): Column = col(s"_e$j").getItem(c).cast(SumType)
    val row = grouped
      .select((count(when(col("_g") === 0, lit(1))) +:
        bases.indices.flatMap { j =>
          attributes.map(c => max(when(col("_g") === 1, ent(j, c)))) ++
            attributes.map(c => sum(when(col("_g") === 0, ent(j, c))))
        }): _*)
      .collect()(0)
    val n = attributes.length
    def sums(j: Int): EntropySums = {
      def at(i: Int) =
        if (row.isNullAt(i)) java.math.BigDecimal.ZERO.setScale(SumType.scale)
        else row.getDecimal(i)
      val off = 1 + 2 * n * j
      EntropySums((0 until n).map(i => at(off + i)), (0 until n).map(i => at(off + n + i)))
    }
    powerRatio(sums(0), if (bases.size > 1) Some(sums(1)) else None, row.getLong(0),
      adjustedBase)
  }

  /** [[informationGainPowerRatio]] over matched records already on the driver:
    * one `(cluster id, attribute values)` entry per record, values in attribute
    * order, null for a missing value. Records whose cluster has one member are
    * not matched and are ignored, as in the distributed form. Same statistics,
    * same final step, so the same double.
    */
  private[graft] def informationGainPowerRatioLocal(
      records: Iterable[(String, Array[String])],
      numAttributes: Int,
      adjustedBase: Int): Double = {
    val matched = records.groupBy(_._1).values.filter(_.size > 1).toSeq
    def counts(rs: Iterable[(String, Array[String])], i: Int) = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      rs.foreach { case (_, vs) =>
        val v = if (vs(i) == null) Cleaning.NullSentinel else vs(i)
        m.update(v, m.getOrElse(v, 0L) + 1L)
      }
      m
    }
    def sums(base: Int): EntropySums = {
      val all = matched.flatten
      EntropySums(
        (0 until numAttributes).map(i => exact(EntropyAgg.entropy(counts(all, i), base))),
        (0 until numAttributes).map { i =>
          matched.foldLeft(java.math.BigDecimal.ZERO.setScale(SumType.scale)) { (acc, c) =>
            acc.add(exact(EntropyAgg.entropy(counts(c, i), base)))
          }
        })
    }
    val bases = aggBases(adjustedBase)
    powerRatio(sums(bases.head), bases.drop(1).headOption.map(sums), matched.size.toLong,
      adjustedBase)
  }
}
