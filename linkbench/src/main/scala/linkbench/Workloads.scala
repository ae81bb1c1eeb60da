package linkbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.auto.AutoLinker
import graft.blocking.{BlockingRule, RuleGen}
import graft.clean.Cleaning
import graft.cluster.ConnectedComponents
import graft.metrics.EntropyMetrics
import graft.schemamatch.SchemaMatch
import graft.score.FellegiSunter
import graft.textops.Dedup
import graft.train.Estimation
import graft.util.{Caching, CheckpointTracker, Partitioning}

/** Outcome of the checks on one op: failed reps and the quality figure. */
final case class OpCheck(failures: Seq[String], f1: Double)

/** One workload: its generated inputs, untimed set-up, ops and output checks. Ops
  * write their result to parquet under the directory they are given; `run` returns
  * a signature of in-memory results that must repeat.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  def ops: Seq[String]
  /** Rough seconds of one timed round (every op once), fixed per workload. */
  def nominalRoundS: Double
  /** Generates the inputs under `dir/input` and returns their properties. */
  def generate(files: Int): Seq[(String, Any)]
  def setUp(t: Option[Tracer]): Unit
  /** Runs `op`, writing to `out`. With a tracer, each call into a layer runs in a
    * span and the op's counts are recorded; without one, nothing else runs.
    */
  def run(op: String, out: String, t: Option[Tracer]): String
  /** The ops run once, untimed, before the timed ones (class loading, code
    * generation, JIT): by default all of them.
    */
  def warmUpOps: Seq[String] = ops
  /** Extra traced work after the ops (auto_link replays the search): per replayed
    * op, the mismatches it found.
    */
  def replay(t: Tracer): Map[String, Seq[String]] = Map.empty
  /** Checks the outputs an op wrote to `out`. */
  def check(op: String, out: String): OpCheck
  /** Order-independent hash of what an op wrote. */
  def outputHash(op: String, out: String): String

  protected def input(name: String): String = s"$dir/input/$name"

  /** `body` in a span named `name` when traced, `body` alone otherwise. */
  protected def span[A](t: Option[Tracer], name: String)(body: => A): A =
    t.fold(body)(_.span(name)(body))

  protected def hashOf(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)
    s"${r.getLong(0)}:${r.get(1)}"
  }

  protected def clustersOf(out: String, uid: String): Map[String, String] =
    spark.read.parquet(out).select(col(uid).cast("string"), col("cluster_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  protected def edgesOf(pairs: DataFrame, threshold: Double): Seq[(String, String)] =
    pairs.filter(col("match_probability") >= threshold).select("uid_l", "uid_r").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
}

object Workload {
  val Names: Seq[String] = Seq("auto_link", "text_near_dup")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload =
    name match {
      case "auto_link" => new AutoLink(spark, dir, seed)
      case "text_near_dup" => new TextNearDup(spark, dir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (expected one of ${Names.mkString(", ")})")
    }
}

/** Many small jobs on small data: the auto-link search in dedupe and link mode. */
final class AutoLink(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  import Gen.Uid

  val ops = Seq("dedupe", "link")
  val nominalRoundS = 20.0
  val Threshold = 0.8
  /** Right-hand names of the link table; `street_number` is dropped there. */
  val RightNames: Map[String, String] = Map("given_name" -> "first_name",
    "surname" -> "last_name", "address_1" -> "street", "suburb" -> "locality",
    "postcode" -> "zip", "state" -> "region", "date_of_birth" -> "dob")

  private var people: IndexedSeq[Gen.Person] = IndexedSeq.empty
  private var leftUids: Set[String] = Set.empty
  /** The result of every call, by op and the output directory it wrote, in call order. */
  private val results =
    scala.collection.mutable.LinkedHashMap[(String, String), AutoLinker.Result]()

  def generate(files: Int): Seq[(String, Any)] = {
    people = Gen.persons(seed, AutoLink.Spec)
    Gen.writeParquet(spark, Gen.personRows(people), Gen.PersonSchema, 1, input("records"))
    // originals go left, their copies right, singletons either side
    val rnd = new scala.util.Random(seed + 1)
    val size = people.groupBy(_.entity).view.mapValues(_.size).toMap
    val (l, r) = people.partition(p => !p.isCopy && (size(p.entity) > 1 || rnd.nextBoolean()))
    leftUids = l.map(_.uid).toSet
    Gen.writeParquet(spark, Gen.personRows(l), Gen.PersonSchema, 1, input("left"))
    val right = spark.createDataFrame(spark.sparkContext.parallelize(Gen.personRows(r), 1),
      Gen.PersonSchema).drop("street_number")
    right.select(right.columns.map(c => col(c).as(RightNames.getOrElse(c, c))): _*)
      .write.mode("overwrite").parquet(input("right"))
    Gen.personStamp(people, 1) ++ Seq("link_left_rows" -> l.size, "link_right_rows" -> r.size)
  }

  def setUp(t: Option[Tracer]): Unit = ()

  private def signature(r: AutoLinker.Result): String =
    s"${r.best.blockingRule}|${r.trials.map(_.metric).mkString(",")}"

  private def records = spark.read.parquet(input("records"))
  private def left = spark.read.parquet(input("left"))
  private def right = spark.read.parquet(input("right"))

  /** `link` runs the same search as `dedupe` and is warm once `dedupe` has run;
    * warming it as well would cost a run a further search.
    */
  override def warmUpOps: Seq[String] = Seq("dedupe")

  def run(op: String, out: String, t: Option[Tracer]): String = {
    val r = span(t, "auto")(op match {
      case "dedupe" => AutoLinker.autoLink(records, Uid)
      case "link" => AutoLinker.autoLinkTables(left, right, Uid)
    })
    r.clusters.select(Uid, "cluster_id").write.mode("overwrite").parquet(out)
    results((op, out)) = r
    t.foreach { tr =>
      tr.count("auto.trials", r.trials.size)
      if (op == "dedupe") {
        val branches = BlockingRule.parse(r.best.blockingRule).branches
          .map(_.map(Gen.Attrs.indexOf(_)))
        val (covered, total) = Checks.blockedTruePairs(people.map(p => (p.entity, p.values)),
          branches)
        tr.count("blocking.pair_completeness", covered.toDouble / total)
        tr.count("blocking.pair_quality",
          covered.toDouble / math.max(1L, Checks.rulePairs(people.map(_.values), branches)))
      }
    }
    signature(r)
  }

  def outputHash(op: String, out: String): String = hashOf(spark.read.parquet(out))

  def check(op: String, out: String): OpCheck = {
    val r = results((op, out))
    val prefixed = op == "link"
    def key(p: Gen.Person): String =
      if (!prefixed) p.uid else (if (leftUids(p.uid)) "l-" else "r-") + p.uid
    val truth = people.map(p => key(p) -> p.entity).toMap
    val actual = clustersOf(out, Uid)
    val expected = Checks.components(truth.keys, edgesOf(r.predictions, Threshold))
    val bad = Checks.clusterMismatches(actual, expected)
    OpCheck(if (bad == 0) Nil else Seq(s"$op: $bad records differ from union-find"),
      Checks.clusterF1(actual, truth))
  }

  /** The candidate blocking rules exactly as `AutoLinker` derives them with its
    * defaults: a ≤10k-row sample, single-column rules OR-ed up to two, filtered at
    * the 100k comparison limit.
    */
  private def candidateRules(df: DataFrame, n: Long, attrs: Seq[String]): Seq[String] = {
    val sample = if (n > 10000) df.sample(withReplacement = false, 10000.0 / n, 42L) else df
    val candidates = RuleGen.generateBlockingRules(sample, 1, 2, attrs, 42L).cache()
    try {
      val accepted = candidates.filter(col("rule_squared_count") < 100000L)
        .select("splink_rule").collect().map(_.getString(0)).toSeq
      if (accepted.nonEmpty) accepted else attrs.map(c => s"l.$c = r.$c")
    } finally candidates.unpersist()
  }

  /** Replays each search through the public layer functions, one span per call,
    * persisting each layer's output for the next. Trials 1–3 are the exact warm-up
    * draws and must reproduce the untraced trial metrics; trials 4–5 reuse the
    * untraced trials' specs and rules with trial 1's training rules (approximate).
    */
  override def replay(t: Tracer): Map[String, Seq[String]] =
    ops.map { op =>
      val expected = untraced(op).trials.map(_.metric)
      val got = t.span(s"replay:$op")(if (op == "dedupe") replayDedupe(t) else replayLink(t))
      op -> got.take(3).zip(expected).zipWithIndex.collect {
        case ((g, e), i) if java.lang.Double.compare(g, e) != 0 =>
          s"$op replay trial ${i + 1}: metric $g != untraced $e"
      }
    }.toMap

  private def replayDedupe(t: Tracer): Seq[Double] = {
    val df = records
    val attrs = df.columns.filterNot(_ == Uid).toSeq
    val (cleaned, n) = t.span("clean") {
      val withId = Cleaning.withUniqueId(df, Uid)
      val s = withId.select(col(Uid).cast("string").as(Uid) +:
        attrs.map(c => col(c).cast("string").as(c)): _*)
      val c = Partitioning.spreadNarrowScan(Cleaning.cleanColumns(s, attrs, "all")).cache()
      (c, c.count())
    }
    try search(t, cleaned, None, cleaned, cleaned, attrs, n, untraced("dedupe"))
    finally cleaned.unpersist()
  }

  private def replayLink(t: Tracer): Seq[Double] = {
    val (left, right) = (this.left, this.right)
    val lAttrs = left.columns.filterNot(_ == Uid).toSeq
    val rAttrs = right.columns.filterNot(_ == Uid).toSeq
    val mapping = t.span("schemamatch")(SchemaMatch.greedyMapping(left, right, lAttrs, rAttrs))
    val attrs = mapping.map(_._1)
    def prep(d: DataFrame, tag: String, sel: Seq[(String, String)]) =
      d.select(concat(lit(tag), col(Uid).cast("string")).as(Uid) +:
        sel.map { case (o, i) => col(i).cast("string").as(o) }: _*)
    val (cl, cr, union, n) = t.span("clean") {
      val l = Partitioning.spreadNarrowScan(Cleaning.cleanColumns(
        prep(Cleaning.withUniqueId(left, Uid), "l-", attrs.map(a => a -> a)), attrs)).cache()
      val r = Partitioning.spreadNarrowScan(Cleaning.cleanColumns(
        prep(Cleaning.withUniqueId(right, Uid), "r-", mapping.map(m => m._1 -> m._2)),
        attrs)).cache()
      val u = l.unionByName(r).cache()
      (l, r, u, u.count())
    }
    val shared = (cl.columns.toSet intersect cr.columns.toSet).toSeq.sorted
    val uSource = cl.select(shared.map(col): _*).unionByName(cr.select(shared.map(col): _*))
    try search(t, cl, Some(cr), union, uSource, attrs, n, untraced("link"))
    finally Seq(cl, cr, union).foreach(_.unpersist())
  }

  /** The op's first result, from an untraced call: its signature is the one the replay is
    * compared against, and its later trials are the ones the replay reuses.
    */
  private def untraced(op: String): AutoLinker.Result =
    results.collectFirst { case ((o, _), r) if o == op => r }.get

  private def search(t: Tracer, trainDf: DataFrame, right: Option[DataFrame],
      base: DataFrame, uSource: DataFrame, attrs: Seq[String], n: Long,
      untraced: AutoLinker.Result): Seq[Double] = {
    val rules = t.span("blocking")(candidateRules(base, n, attrs))
    t.count("blocking.rules", rules.size)
    val adjustedBase = t.span("metrics")(EntropyMetrics.maxDistinct(base, attrs).toInt)
    val uTarget = math.min(n * 4, 100000L)
    val tracker = new CheckpointTracker(spark)
    try {
      val uPairs = t.span("train")(tracker.rotate(
        Estimation.uSamplePairs(uSource, Uid, attrs, uTarget, hashShuffle = true, 42L, tracker)))
      t.count("train.u_pairs", uPairs.count())
      val warm = AutoLinker.warmupDraws(42L, attrs, rules, 3)
      val later = untraced.trials.drop(3).map(tr =>
        (tr.model.comparisons, tr.blockingRule, warm.head._3))
      (warm ++ later).map { case (specs, rule, trainingRules) =>
        val model = t.span("train")(Estimation.train(trainDf, Uid, specs, Seq(rule),
          trainingRules, uTargetPairs = uTarget, linkRight = right, uPairs = Some(uPairs),
          nRows = Some(n)))
        val (preds, pairs) = t.span("score") {
          val p = (right match {
            case Some(r) => FellegiSunter.predictLink(trainDf, r, Uid, model)
            case None => FellegiSunter.predict(trainDf, Uid, model)
          }).persist()
          (p, p.count())
        }
        val edges = preds.filter(col("match_probability") >= Threshold)
          .select(col("uid_l").as("src"), col("uid_r").as("dst"))
        val nEdges = edges.count()
        val clusters = t.span("cluster") {
          val c = ConnectedComponents.assignClusters(base, Uid, edges).persist()
          c.count()
          c
        }
        val metric = t.span("metrics")(
          EntropyMetrics.informationGainPowerRatio(clusters, attrs, adjustedBase))
        t.count("score.pairs", pairs)
        t.count("cluster.edges", nEdges)
        t.count("cluster.components", clusters.select("cluster_id").distinct().count())
        clusters.unpersist()
        preds.unpersist()
        metric
      }
    } finally tracker.close()
  }
}

object AutoLink {
  val Spec: Gen.PersonSpec = Gen.PersonSpec(rows = 1000, postcodes = 150, postcodeSkew = 0.8)
}

object TextNearDup {
  val Spec: Gen.DocSpec = Gen.DocSpec(corpus = 8000, batch = 1200)
}

/** The text near-dup operators: build the MinHash index (write path) and screen
  * an incoming batch against it (read path).
  */
final class TextNearDup(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {

  val ops = Seq("index", "ingest")
  val nominalRoundS = 12.0
  val Threshold = 0.4
  val K = 8
  val BandSize = 2
  val ShingleN = 3

  private var corpus: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var batch: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private def docs = spark.read.parquet(input("corpus"))
  private def incoming = spark.read.parquet(input("batch"))
  private def baseIndex = input("base_index")

  def generate(files: Int): Seq[(String, Any)] = {
    val (c, b) = Gen.documents(seed, TextNearDup.Spec)
    corpus = c
    batch = b
    Gen.writeParquet(spark, Gen.docRows(c), Gen.DocSchema, files, input("corpus"))
    Gen.writeParquet(spark, Gen.docRows(b), Gen.DocSchema, 1, input("batch"))
    Gen.docStamp(c, b, files)
  }

  /** The persisted index the ingest path reads. */
  def setUp(t: Option[Tracer]): Unit =
    span(t, "textops")(Dedup.writeMinhashIndex(docs, "doc_id", "text", baseIndex, K,
      BandSize, ShingleN))

  def run(op: String, out: String, t: Option[Tracer]): String = {
    op match {
      case "index" =>
        span(t, "textops")(Caching.withCached {
          Dedup.minhashLshPairs(docs, "doc_id", "text", Threshold, K, BandSize, ShingleN)
            .write.mode("overwrite").parquet(s"$out/pairs")
        })
        val pairs = spark.read.parquet(s"$out/pairs")
        span(t, "cluster")(Dedup.deduplicate(docs, "doc_id", pairs)
          .write.mode("overwrite").parquet(s"$out/clusters"))
        t.foreach { tr =>
          val n = pairs.count()
          tr.count("textops.pairs", n)
          tr.count("cluster.edges", n)
          tr.count("cluster.components",
            spark.read.parquet(s"$out/clusters").select("cluster_id").distinct().count())
        }
        span(t, "textops")(Dedup.writeMinhashIndex(docs, "doc_id", "text", s"$out/index", K,
          BandSize, ShingleN))
      case "ingest" =>
        span(t, "textops")(Caching.withCached {
          Dedup.incrementalMinhashPairsFromIndex(baseIndex, docs, incoming, "doc_id", "text",
            Threshold, K, BandSize, ShingleN).write.mode("overwrite").parquet(s"$out/pairs")
        })
        t.foreach(_.count("textops.pairs", spark.read.parquet(s"$out/pairs").count()))
    }
    ""
  }

  def outputHash(op: String, out: String): String = op match {
    case "index" => Seq("pairs", "clusters", "index")
      .map(p => hashOf(spark.read.parquet(s"$out/$p"))).mkString("/")
    case "ingest" => hashOf(spark.read.parquet(s"$out/pairs"))
  }

  private def pairsOf(path: String): Seq[(String, String)] =
    spark.read.parquet(path).select("id_l", "id_r").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  def check(op: String, out: String): OpCheck = {
    val texts = (corpus ++ batch).map(d => d.id -> d.text).toMap
    val pairs = pairsOf(s"$out/pairs")
    val lowJaccard = Checks.jaccardViolations(pairs, texts, ShingleN, Threshold)
    val jFail =
      if (lowJaccard == 0) Nil else Seq(s"$op: $lowJaccard pairs below Jaccard $Threshold")
    op match {
      case "index" =>
        val actual = clustersOf(s"$out/clusters", "doc_id")
        val expected = Checks.components(corpus.map(_.id), pairs)
        val bad = Checks.clusterMismatches(actual, expected)
        val keepers = spark.read.parquet(s"$out/clusters")
          .filter(col("is_keeper") =!= (col("cluster_id") === col("doc_id"))).count()
        OpCheck(jFail ++
          (if (bad == 0) Nil else Seq(s"index: $bad documents differ from union-find")) ++
          (if (keepers == 0) Nil else Seq(s"index: $keepers wrong keeper flags")),
          Checks.clusterF1(actual, corpus.map(d => d.id -> d.group).toMap))
      case "ingest" =>
        val batchIds = batch.map(_.id).toSet
        // one full run over corpus ∪ batch, restricted to batch-touching pairs
        val full = Caching.withCached {
          val all = docs.unionByName(incoming)
          Dedup.minhashLshPairs(all, "doc_id", "text", Threshold, K, BandSize, ShingleN)
            .select("id_l", "id_r").collect().map(r => (r.getString(0), r.getString(1)))
        }.filter { case (a, b) => batchIds(a) || batchIds(b) }.map(Checks.canon).toSet
        val got = pairs.map(Checks.canon).toSet
        val diff = (got diff full).size + (full diff got).size
        val truth = Checks.groupPairs((corpus ++ batch).map(d => d.id -> d.group))
          .filter { case (a, b) => batchIds(a) || batchIds(b) }
        OpCheck(jFail ++ (if (diff == 0) Nil
          else Seq(s"ingest: $diff pairs differ from the full corpus ∪ batch run")),
          Checks.pairF1(got, truth))
    }
  }
}
