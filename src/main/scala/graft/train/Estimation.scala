package graft.train

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.compare.Comparisons
import graft.model.{ColumnParams, ComparisonSpec, TrainedModel}

/** J3/J4/J5 — parameter estimation for the Fellegi-Sunter model.
  *
  * J3: prior λ = 1/N (reference: autolinker.py:555).
  * J4: u-probabilities from random record pairs assumed non-matches
  *     (reference: `estimate_u_using_random_sampling(target_rows=N)`, autolinker.py:556).
  * J5: m-probabilities (and λ) by expectation-maximisation per training blocking rule
  *     (reference: autolinker.py:557-558, convergence 0.01 at :544).
  */
object Estimation {

  def prior(rowCount: Long): Double = 1.0 / rowCount

  val DefaultM: Array[Double] = Array(0.1, 0.3, 0.6)   // gamma 0, 1, 2
  val DefaultU: Array[Double] = Array(0.8, 0.15, 0.05)
  private val Floor = 1e-9

  /** J4 — u[col][gamma] from deterministically sampled record pairs.
    *
    * Rows are ranked by a salted hash of the uid (a deterministic shuffle — adjacent
    * rows of sorted input files are correlated, and pairing them would inflate u with
    * true matches), then row `i` is paired with rows `i+offset (mod N)` for
    * `offset = 1..ceil(targetPairs/N)` — reproducible, uniformly spread, and built via
    * `zipWithIndex` + equi-join (no global window, no cartesian), so it scales linearly.
    * Tables larger than ~2·targetPairs are seeded-sampled down to ~targetPairs rows
    * first, so the ranking sort is O(targetPairs), never a full-table sort.
    *
    * @param hashShuffle disable only for oracle tests that need a SQL-reproducible order
    *                    (uid order) at the cost of the adjacency bias above.
    */
  def estimateU(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      targetPairs: Long = 100000L,
      hashShuffle: Boolean = true,
      seed: Long = 42L): Map[String, Array[Double]] = {
    val tracker = new graft.util.CheckpointTracker(df.sparkSession)
    try {
      val pairs = uSamplePairs(df, uid, specs.map(_.column), targetPairs,
        hashShuffle, seed, tracker)
      estimateUFromPairs(pairs, specs)
    } finally tracker.close()
  }

  /** The spec-independent half of [[estimateU]]: the deterministically sampled,
    * ranked, offset-paired record pairs carrying `<attr>_l`/`<attr>_r` for every
    * attribute. Build ONCE and reuse across trials whose comparison specs differ —
    * the sample/sort/index/join pipeline depends only on (data, uid, targetPairs,
    * seed), and rides `tracker`-rotated checkpoints until the caller closes it.
    */
  def uSamplePairs(
      df: DataFrame,
      uid: String,
      attrs: Seq[String],
      targetPairs: Long,
      hashShuffle: Boolean,
      seed: Long,
      tracker: graft.util.CheckpointTracker): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val base = df.select(
      (col(uid).cast("string").as("uid") +:
        attrs.map(a => col(a).cast("string").as(a))): _*)
    // Draw ~targetPairs rows BEFORE ranking: the rank is a total sort, and u needs
    // only O(targetPairs) rows regardless of corpus size — at 100 TB sorting the full
    // table to pair ~100k rows is the dominant (and pointless) cost. The sample is
    // seeded (reproducible) and uniform, so the u estimator is statistically unchanged;
    // the hashShuffle=false oracle path keeps the exact full-table pairing.
    val nAll = base.count()
    val want = math.min(nAll, targetPairs + 1)
    val sampled =
      if (hashShuffle && nAll > 2 * want)
        base.sample(withReplacement = false, math.min(1.0, 1.2 * want / nAll), seed)
      else base
    val projected =
      if (hashShuffle) sampled.orderBy(xxhash64(col("uid"), lit(seed)))
      else sampled.orderBy("uid")
    val n = if (sampled eq base) nAll else projected.count()
    val offsets = math.max(1L, math.min(n - 1, targetPairs / math.max(n, 1L))).toInt

    val indexed = tracker.rotate(spark.createDataFrame(
      projected.rdd.zipWithIndex().map { case (row, idx) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ idx)
      },
      StructType(projected.schema.fields :+ StructField("rn", LongType))))

    val l = indexed.select(
      (col("rn") +: col("uid").as("uid_l") +: attrs.map(a => col(a).as(s"${a}_l"))): _*)
    val r = indexed.select(
      (col("rn").as("rn_r") +: col("uid").as("uid_r") +: attrs.map(a => col(a).as(s"${a}_r"))): _*)

    (1 to offsets).map { off =>
      l.withColumn("rn_r", pmod(col("rn") + lit(off.toLong), lit(n)))
        .join(r, "rn_r")
    }.reduce(_ unionByName _)
  }

  /** u[col][gamma] from a prebuilt pair table (see [[uSamplePairs]]). */
  def estimateUFromPairs(
      pairs: DataFrame,
      specs: Seq[ComparisonSpec]): Map[String, Array[Double]] =
    uFromCounts(gammaCounts(Comparisons.withGammas(pairs, specs), specs), specs)

  /** u[col][gamma] from per-column gamma counts of random pairs. */
  private def uFromCounts(
      counts: Map[String, Map[Int, Long]],
      specs: Seq[ComparisonSpec]): Map[String, Array[Double]] =
    specs.map { s =>
      val byGamma = counts.getOrElse(s.column, Map.empty)
      val total = byGamma.collect { case (g, c) if g >= 0 => c }.sum.toDouble
      val u = (0 until s.numLevels).map { g =>
        math.max(byGamma.getOrElse(g, 0L) / math.max(total, 1.0), Floor)
      }.toArray
      s.column -> u
    }.toMap

  /** The per-column gamma counts [[gammaCounts]] computes, marginalized from a
    * full-gamma pattern table (gamma vectors in `specs` order, with counts).
    */
  private def marginalCounts(
      patterns: Array[(Array[Int], Long)],
      specs: Seq[ComparisonSpec]): Map[String, Map[Int, Long]] =
    specs.indices.map { k =>
      specs(k).column -> patterns.groupMapReduce(_._1(k))(_._2)(_ + _)
    }.toMap

  /** J5 — EM over pairs blocked by `trainingRule`. Columns appearing in the training
    * rule are held fixed for this round (their gammas are saturated by construction —
    * Splink excludes them, reference autolinker.py:557-558). Both m and u are
    * re-estimated (Splink's default: `fix_u_probabilities=False`); [[train]] averages
    * the per-session u with the random-sampling estimate.
    *
    * The reference caps huge training-pair sets with a sample; here the agreement-
    * pattern aggregation makes that unnecessary — EM cost scales with DISTINCT gamma
    * patterns, not pairs, so every blocked pair feeds one aggregation pass (a cap
    * would still have scanned them all just to count). Quadratic blow-ups are guarded
    * where they must be: at rule selection, by the E8 cost estimate.
    *
    * @return (λ estimate, updated m per column, updated u per column)
    */
  def emTrain(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      trainingRule: graft.blocking.BlockingRule,
      u: Map[String, Array[Double]],
      initialLambda: Double,
      tol: Double = 0.01,
      maxIter: Int = 25,
      linkRight: Option[DataFrame] = None,
      maxDriverPatterns: Long = MaxDriverPatterns): (Double, Map[String, Array[Double]], Map[String, Array[Double]]) = {

    val ruleCols = trainingRule.columns.toSet
    val freeSpecs = specs.filterNot(s => ruleCols.contains(s.column))
    // a rule that blocks on every compared column leaves nothing to estimate
    if (freeSpecs.isEmpty) return (initialLambda, Map.empty, Map.empty)
    // carry both compared and blocked-on columns through the pair join
    val attrs = (specs.map(_.column) ++ trainingRule.columns).distinct

    // link mode: pairs cross the two tables only (Splink link_only semantics)
    val pairs = linkRight match {
      case Some(right) =>
        graft.blocking.PairGenerator.linkPairs(df, right, uid, attrs, Seq(trainingRule))
      case None =>
        graft.blocking.PairGenerator.dedupePairs(df, uid, attrs, Seq(trainingRule))
    }
    val tracker = new graft.util.CheckpointTracker(df.sparkSession)
    // Agreement-pattern aggregation (the same trick Splink's EM uses): the E- and
    // M-steps depend only on the gamma VECTOR, so collapse the pairs to distinct
    // patterns with counts — at most 4^K rows for K free columns, usually a handful —
    // and iterate over those. The whole EM loop then costs ONE Spark aggregation
    // regardless of iteration count; with a bounded pattern table the iterations are
    // pure driver arithmetic (the distributed per-iteration path remains as a
    // fallback for pathologically wide comparison spaces).
    val gammaCols = freeSpecs.map(s => col(s"gamma_${s.column}"))
    val patterns = tracker.rotate(Comparisons.withGammas(pairs, freeSpecs)
      .groupBy(gammaCols: _*)
      .agg(count(lit(1)).as("cnt")))
    try {
      // one collect with a limit probe replaces the former count + collect pair:
      // an extra row past the cap proves the table is too wide without counting it
      // (cap BEFORE the +1 so a Long.MaxValue "no cap" sentinel can't overflow)
      // 0 is the force-distributed sentinel (cap 0 → any pattern exceeds it)
      require(maxDriverPatterns >= 0, s"maxDriverPatterns must be >= 0, got $maxDriverPatterns")
      val cap = math.min(maxDriverPatterns, Int.MaxValue.toLong - 1).toInt
      val probe = patterns.limit(cap + 1).collect()
      if (probe.isEmpty)
        (initialLambda, freeSpecs.map(s => s.column -> DefaultM.clone).toMap,
          freeSpecs.map(s => s.column -> u(s.column).clone).toMap)
      else if (probe.length <= cap) {
        val pats = probe.map { r =>
          (freeSpecs.indices.map(i => r.getInt(i)).toArray, r.getLong(freeSpecs.length))
        }
        emOverPatterns(pats, freeSpecs, u, initialLambda, tol, maxIter)
      } else emDistributed(patterns, freeSpecs, u, initialLambda, tol, maxIter)
    } finally tracker.close() // all estimates are driver-side; free the pattern blocks
  }

  private val MaxDriverPatterns = 100000L

  /** EM iterations over a driver-sized agreement-pattern table: per iteration one
    * tight pass over (gamma vector, count) rows — no Spark jobs at all.
    */
  private def emOverPatterns(
      pats: Array[(Array[Int], Long)],
      freeSpecs: Seq[ComparisonSpec],
      u0: Map[String, Array[Double]],
      initialLambda: Double,
      tol: Double,
      maxIter: Int): (Double, Map[String, Array[Double]], Map[String, Array[Double]]) = {
    val total = pats.map(_._2).sum.toDouble
    val k = freeSpecs.length
    var lambda = initialLambda
    var m = freeSpecs.map(s => s.column -> DefaultM.clone).toMap
    var uEst = freeSpecs.map(s => s.column -> u0(s.column).clone).toMap
    var delta = Double.MaxValue
    var iter = 0
    while (delta > tol && iter < maxIter) {
      val mw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
      val uw = freeSpecs.map(s => s.column -> new Array[Double](s.numLevels)).toMap
      var sumW = 0.0
      pats.foreach { case (gs, cnt) =>
        // E-step: P(match | pattern); gamma −1 (null) contributes factor 1 to both sides
        var num = lambda
        var den = 1.0 - lambda
        var i = 0
        while (i < k) {
          val g = gs(i)
          if (g >= 0) {
            val c = freeSpecs(i).column
            num *= m(c)(g)
            den *= uEst(c)(g)
          }
          i += 1
        }
        val w = num / (num + den)
        sumW += cnt * w
        i = 0
        while (i < k) {
          val g = gs(i)
          if (g >= 0) {
            val c = freeSpecs(i).column
            mw(c)(g) += cnt * w
            uw(c)(g) += cnt * (1.0 - w)
          }
          i += 1
        }
      }
      def refit(sums: Map[String, Array[Double]]): Map[String, Array[Double]] =
        freeSpecs.map { s =>
          val arr = sums(s.column)
          val tot = arr.sum
          s.column -> arr.map(x => math.max(x / math.max(tot, Floor), Floor))
        }.toMap
      val newM = refit(mw)
      val newU = refit(uw)
      val newLambda = math.min(math.max(sumW / total, Floor), 1 - Floor)
      delta = math.max(
        math.abs(newLambda - lambda),
        freeSpecs.flatMap(s =>
          (0 until s.numLevels).map(g =>
            math.max(math.abs(newM(s.column)(g) - m(s.column)(g)),
              math.abs(newU(s.column)(g) - uEst(s.column)(g))))).max)
      lambda = newLambda
      m = newM
      uEst = newU
      iter += 1
    }
    (lambda, m, uEst)
  }

  /** Distributed EM fallback for pattern tables too large to collect: per iteration
    * one unpivoted count-weighted aggregation over the pattern table (still a fraction
    * of the raw pair count). A synthetic '__all__' stack entry with constant gamma 0
    * makes the same aggregation yield Σw for the λ update — one job per iteration.
    */
  private def emDistributed(
      patterns: DataFrame,
      freeSpecs: Seq[ComparisonSpec],
      u0: Map[String, Array[Double]],
      initialLambda: Double,
      tol: Double,
      maxIter: Int): (Double, Map[String, Array[Double]], Map[String, Array[Double]]) = {
    val total = patterns.agg(sum("cnt")).collect()(0).getLong(0).toDouble
    var lambda = initialLambda
    var m = freeSpecs.map(s => s.column -> DefaultM.clone).toMap
    var uEst = freeSpecs.map(s => s.column -> u0(s.column).clone).toMap
    var delta = Double.MaxValue
    var iter = 0
    while (delta > tol && iter < maxIter) {
      val wExpr = matchProbability(freeSpecs, lambda, m, uEst)
      val weighted = patterns.withColumn("w", wExpr)
      val stacked = weighted.select(
        col("w"), col("cnt"),
        expr(s"stack(${freeSpecs.length + 1}, " +
          (freeSpecs.map(s => s"'${s.column}', gamma_${s.column}") :+ "'__all__', 0")
            .mkString(", ") +
          ") as (column, gamma)"))
      val rows = stacked
        .filter(col("gamma") >= 0)
        .groupBy("column", "gamma")
        .agg(sum(col("w") * col("cnt")).as("mw"),
          sum((lit(1.0) - col("w")) * col("cnt")).as("uw"))
        .collect()

      val sums = rows.groupBy(_.getString(0)).map { case (c, rs) =>
        c -> rs.map(r => r.getInt(1) -> (r.getDouble(2), r.getDouble(3))).toMap
      }
      val sumW = sums.get("__all__").flatMap(_.get(0)).map(_._1).getOrElse(0.0)
      def refit(pick: ((Double, Double)) => Double): Map[String, Array[Double]] =
        freeSpecs.map { s =>
          val byG = sums.getOrElse(s.column, Map.empty)
          val tot = byG.values.map(pick).sum
          s.column -> (0 until s.numLevels).map { g =>
            math.max(byG.get(g).map(pick).getOrElse(0.0) / math.max(tot, Floor), Floor)
          }.toArray
        }.toMap
      val newM = refit(_._1)
      val newU = refit(_._2)
      val newLambda = math.min(math.max(sumW / total, Floor), 1 - Floor)
      delta = math.max(
        math.abs(newLambda - lambda),
        freeSpecs.flatMap(s =>
          (0 until s.numLevels).map(g =>
            math.max(math.abs(newM(s.column)(g) - m(s.column)(g)),
              math.abs(newU(s.column)(g) - uEst(s.column)(g))))).max)
      lambda = newLambda
      m = newM
      uEst = newU
      iter += 1
    }
    (lambda, m, uEst)
  }

  /** P(match | gammas) as a column expression from literal parameters. */
  def matchProbability(
      specs: Seq[ComparisonSpec],
      lambda: Double,
      m: Map[String, Array[Double]],
      u: Map[String, Array[Double]]): Column = {
    def prodExpr(params: Map[String, Array[Double]]): Column =
      specs.map { s =>
        val g = col(s"gamma_${s.column}")
        val p = params(s.column)
        (0 until s.numLevels).foldLeft(when(g === lit(-1), lit(1.0))) { (acc, lvl) =>
          acc.when(g === lit(lvl), lit(p(lvl)))
        }.otherwise(lit(1.0))
      }.reduceOption(_ * _).getOrElse(lit(1.0))
    val num = lit(lambda) * prodExpr(m)
    val den = num + lit(1.0 - lambda) * prodExpr(u)
    num / den
  }

  /** Full training pipeline: J3 prior + J4 u + J5 EM per training rule, averaging m
    * across rounds for columns estimated more than once (Splink combines estimates).
    *
    * `linkRight` switches to link mode (Splink link_only): u is estimated over the
    * union of both tables (random pairs are overwhelmingly non-matches either way) and
    * EM pairs cross the two tables only.
    */
  def train(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      blockingRules: Seq[String],
      trainingRules: Seq[String],
      uTargetPairs: Long = 100000L,
      tol: Double = 0.01,
      linkRight: Option[DataFrame] = None,
      uPairs: Option[DataFrame] = None,
      uHashShuffle: Boolean = true,
      nRows: Option[Long] = None): TrainedModel = {
    val uSource = linkRight match {
      case Some(right) =>
        val shared = (df.columns.toSet intersect right.columns.toSet).toSeq.sorted
        df.select(shared.map(col): _*).unionByName(right.select(shared.map(col): _*))
      case None => df
    }
    // a search loop calling train per trial passes the loop-invariant row count
    // (nRows) — the prior λ0 = 1/N needs N once, not one count job per trial
    val n = nRows.getOrElse(uSource.count())
    val lambda0 = prior(n)
    // the per-rule EM sessions chain only the scalar λ — the expensive part (pair
    // join + gamma aggregation) is rule-independent, so collect every rule's
    // pattern table in ONE Spark pass and run the chained driver EMs over the
    // collected arrays; falls back to per-rule emTrain when the combined table
    // exceeds the driver cap (the distributed path handles pathological widths).
    // A search loop training many candidate models passes the prebuilt sampled
    // pair table (uPairs): it rides the same pass as pseudo-rule URule, and u is
    // its pattern counts marginalized per column — the integers gammaCounts
    // would produce, so u is the same double. Over the cap, u is computed from
    // the pairs on its own and every rule runs emTrain; the failed combined pass
    // is not retried without the u pairs.
    val parsedRules = trainingRules.map(graft.blocking.BlockingRule.parse)
    val (uSampled, batched) = uPairs match {
      case Some(p) =>
        batchPatternTables(df, uid, specs, parsedRules, linkRight, Some(p)) match {
          case Some(tables) =>
            (uFromCounts(marginalCounts(tables.getOrElse(URule, Array.empty), specs), specs),
              Some(tables - URule))
          case None => (estimateUFromPairs(p, specs), None)
        }
      case None =>
        (estimateU(uSource, uid, specs, uTargetPairs, uHashShuffle),
          batchPatternTables(df, uid, specs, parsedRules, linkRight, None))
    }

    val mEstimates = scala.collection.mutable.Map[String, List[Array[Double]]]()
    val uEstimates = scala.collection.mutable.Map[String, List[Array[Double]]](
      specs.map(s => s.column -> List(uSampled(s.column))): _*)
    var lambda = lambda0
    parsedRules.zipWithIndex.foreach { case (rule, idx) =>
      val (lam, m, uEm) = batched match {
        case Some(byRule) =>
          emFromPatterns(byRule.getOrElse(idx, Array.empty), specs, rule, uSampled,
            lambda, tol)
        case None =>
          emTrain(df, uid, specs, rule, uSampled, lambda, tol, linkRight = linkRight)
      }
      lambda = lam
      m.foreach { case (c, arr) =>
        mEstimates(c) = arr :: mEstimates.getOrElse(c, Nil)
      }
      uEm.foreach { case (c, arr) =>
        uEstimates(c) = arr :: uEstimates.getOrElse(c, Nil)
      }
    }
    def average(lists: List[Array[Double]], levels: Int): Array[Double] =
      (0 until levels).map(g => lists.map(_(g)).sum / lists.length).toArray
    val params = specs.map { s =>
      val ms = mEstimates.getOrElse(s.column, List(DefaultM))
      s.column -> ColumnParams(
        average(ms, s.numLevels),
        average(uEstimates(s.column), s.numLevels))
    }.toMap
    TrainedModel(lambda, specs, params, blockingRules)
  }

  /** Rule index of the u pair table in [[batchPatternTables]]. */
  private val URule = -1

  /** Agreement-pattern tables for several training rules in one Spark pass, keyed by
    * rule index. Each rule's pairs carry a rule tag through a single unioned gamma
    * aggregation over ALL spec columns; [[emFromPatterns]] marginalizes each table to
    * the rule's free columns on the driver (summing over the blocked columns' gammas
    * is exactly the per-rule aggregation [[emTrain]] would have computed). `uPairs`
    * (random pairs, see [[uSamplePairs]]) joins the union last, tagged [[URule]].
    * Returns None when the combined table exceeds [[MaxDriverPatterns]] — callers
    * then fall back to per-rule [[emTrain]].
    */
  private def batchPatternTables(
      df: DataFrame,
      uid: String,
      specs: Seq[ComparisonSpec],
      rules: Seq[graft.blocking.BlockingRule],
      linkRight: Option[DataFrame],
      uPairs: Option[DataFrame]): Option[Map[Int, Array[(Array[Int], Long)]]] = {
    // rules blocking on every compared column have nothing to estimate — skip them
    val active = rules.zipWithIndex.filter { case (r, _) =>
      val blocked = r.columns.toSet
      specs.exists(s => !blocked.contains(s.column))
    }
    if (active.isEmpty && uPairs.isEmpty) return Some(Map.empty)
    val attrs = (specs.map(_.column) ++ rules.flatMap(_.columns)).distinct
    val pairCols = specs.flatMap(s => Seq(col(s"${s.column}_l"), col(s"${s.column}_r")))
    val tagged = active.map { case (rule, i) =>
      val pairs = linkRight match {
        case Some(right) =>
          graft.blocking.PairGenerator.linkPairs(df, right, uid, attrs, Seq(rule))
        case None =>
          graft.blocking.PairGenerator.dedupePairs(df, uid, attrs, Seq(rule))
      }
      pairs.select(pairCols :+ lit(i).as("_rule_idx"): _*)
    } ++ uPairs.map(_.select(pairCols :+ lit(URule).as("_rule_idx"): _*))
    val gammaCols = specs.map(s => col(s"gamma_${s.column}"))
    val patterns = Comparisons.withGammas(tagged.reduce(_ unionByName _), specs)
      .groupBy((col("_rule_idx") +: gammaCols): _*)
      .agg(count(lit(1)).as("cnt"))
    val cap = math.min(MaxDriverPatterns, Int.MaxValue.toLong - 1).toInt
    val probe = patterns.limit(cap + 1).collect()
    if (probe.length > cap) None
    else Some(probe.groupBy(_.getInt(0)).map { case (i, rows) =>
      i -> rows.map { r =>
        (specs.indices.map(k => r.getInt(k + 1)).toArray, r.getLong(specs.length + 1))
      }
    })
  }

  /** One rule's EM session over a pre-collected full-gamma pattern table: marginalize
    * to the rule's free columns, then iterate driver-side. Mirrors [[emTrain]]'s
    * outcomes exactly — no-free-columns and empty-block cases included.
    */
  private def emFromPatterns(
      full: Array[(Array[Int], Long)],
      specs: Seq[ComparisonSpec],
      rule: graft.blocking.BlockingRule,
      u: Map[String, Array[Double]],
      initialLambda: Double,
      tol: Double): (Double, Map[String, Array[Double]], Map[String, Array[Double]]) = {
    val blocked = rule.columns.toSet
    val freeIdx = specs.indices.filter(i => !blocked.contains(specs(i).column))
    val freeSpecs = freeIdx.map(specs)
    if (freeSpecs.isEmpty) (initialLambda, Map.empty, Map.empty)
    else if (full.isEmpty)
      (initialLambda, freeSpecs.map(s => s.column -> DefaultM.clone).toMap,
        freeSpecs.map(s => s.column -> u(s.column).clone).toMap)
    else {
      val pats = full.groupBy { case (g, _) => freeIdx.map(g).toSeq }
        .map { case (key, rows) => (key.toArray, rows.map(_._2).sum) }
        .toArray
      emOverPatterns(pats, freeSpecs, u, initialLambda, tol, 25)
    }
  }

  private def gammaCounts(
      gammas: DataFrame,
      specs: Seq[ComparisonSpec]): Map[String, Map[Int, Long]] = {
    val stacked = gammas.select(
      expr(s"stack(${specs.length}, " +
        specs.map(s => s"'${s.column}', gamma_${s.column}").mkString(", ") +
        ") as (column, gamma)"))
    stacked.groupBy("column", "gamma").count().collect()
      .groupBy(_.getString(0))
      .map { case (c, rows) =>
        c -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
      }
  }
}
