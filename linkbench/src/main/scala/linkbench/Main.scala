package linkbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload of the linkage benchmark and prints its record.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`, `failed` and
  * `metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`). A side record with samples, checks and (traced) spans is written
  * to `<work>/../records/`.
  */
object Main {

  val Layers: Seq[String] = Seq("clean", "blocking", "schemamatch", "train", "score",
    "cluster", "metrics", "textops", "auto")
  val Counts: Seq[String] = Seq("blocking.rules", "blocking.pair_completeness",
    "blocking.pair_quality", "train.u_pairs", "score.pairs", "score.edge_ratio",
    "cluster.edges", "cluster.components", "textops.pairs", "auto.trials")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(args.work))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"linkbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Run(spark, args, cores, jvmStartMs).apply()
    finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median, sample count and the highest whole percentile with at least ten
    * samples beyond it (absent below twenty samples).
    */
  def summary(xs: Seq[Double]): Seq[(String, Any)] = {
    val n = xs.size
    val tail = if (n >= 20) {
      val q = math.floor(100.0 - 1000.0 / n).toInt
      val s = xs.sorted
      Seq(s"p$q" -> s(math.min(n - 1, math.ceil(q / 100.0 * n).toInt - 1)))
    } else Nil
    Seq("median" -> median(xs), "samples" -> n) ++ tail ++ Seq("values" -> xs)
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case (k: String, x) => json(Seq(k -> x))
    case m: Map[_, _] => json(m.toSeq)
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}

/** One run: generate, set up, measure (or trace), check, report. */
final class Run(spark: SparkSession, args: Main.Args, cores: Int, jvmStartMs: Long) {
  import Main._

  private val wl = Workload(args.workload, spark, s"${args.work}/data", args.seed)
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  private var attempted = 0
  private val failedReps = scala.collection.mutable.Set[(String, Int)]()
  /** Per op: the rep numbers run, their signatures, seconds and heap peaks. */
  private val reps = scala.collection.mutable.LinkedHashMap[String,
    scala.collection.mutable.ArrayBuffer[(Int, String, Double, Double)]]()

  /** Seconds since JVM start at which each phase of the run ended. */
  private val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  private def phase(name: String): Unit = {
    phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[linkbench] ${phases(name)}%.2fs after JVM start: $name done")
  }

  private def out(op: String, rep: Int) = s"${args.work}/data/out/$op/$rep"
  private def now = System.nanoTime()

  /** Runs `body` as rep `rep` of `op`; a throw counts as a failed rep. */
  private def attempt(op: String, rep: Int)(body: => String): Unit = {
    attempted += 1
    Heap.reset()
    val t0 = now
    val sig = try body catch {
      case e: Throwable =>
        failedReps += ((op, rep))
        failures += s"$op rep $rep threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
        s"error:$e"
    }
    val secs = (now - t0) / 1e9
    val peakMb = Heap.peakMb()
    System.err.println(f"[linkbench] $op rep $rep: $secs%.2fs, peak heap $peakMb%.0f MB")
    reps.getOrElseUpdate(op, scala.collection.mutable.ArrayBuffer()) +=
      ((rep, sig, secs, peakMb))
    // every call starts cold: drop what the previous rep cached
    spark.catalog.clearCache()
    graft.util.Caching.releaseAll()
  }

  def apply(): Unit = {
    phase("session")
    val g0 = now
    val stamp = wl.generate(cores)
    val genS = (now - g0) / 1e9
    System.err.println(f"[linkbench] inputs generated in $genS%.2fs: $stamp")
    val tracer = if (args.trace) Some(new Tracer(spark, s"${args.workload}-${args.seed}"))
      else None
    phase("generate")
    tracer.foreach(_.install())
    wl.setUp(tracer)
    tracer.foreach(_.uninstall())
    phase("set-up")
    // untimed warm-up: class loading, codegen and JIT
    wl.warmUpOps.foreach(op => attempt(op, 0)(wl.run(op, out(op, 0), None)))
    phase("warm-up")
    val setupS = phases("warm-up") - genS

    val traceRecord = tracer match {
      case None => measure(); Nil
      case Some(t) => traceRun(t)
    }
    phase(if (args.trace) "trace" else "measure")
    val checks = check()
    phase("check")
    report(stamp, genS, setupS, checks, traceRecord)
  }

  /** Timed rounds, every op once per round. The round count comes from `--seconds`
    * and the workload's nominal round time, never from measured times, so two
    * builds compared at the same `--seconds` time the same work. At least two
    * rounds run, so no timing rests on a single sample.
    */
  private def measure(): Unit =
    (1 to math.max(2, math.round(args.seconds / wl.nominalRoundS).toInt)).foreach { rep =>
      wl.ops.foreach(op => attempt(op, rep)(wl.run(op, out(op, rep), None)))
    }

  /** One untimed-tracing rep per op, then one traced rep per op (its root span is
    * the op), then the workload's replay. Returns the per-op overhead record.
    */
  private def traceRun(t: Tracer): Seq[(String, Any)] = {
    wl.ops.foreach(op => attempt(op, 1)(wl.run(op, out(op, 1), None)))
    t.install()
    val rootIds = scala.collection.mutable.LinkedHashMap[String, Int]()
    wl.ops.foreach { op =>
      attempt(op, 2)(t.span(s"op:$op")(wl.run(op, out(op, 2), Some(t))))
      rootIds(op) = t.spans.filter(_.name == s"op:$op").map(_.id).max
    }
    wl.replay(t).foreach { case (op, mismatches) =>
      attempted += 1
      if (mismatches.nonEmpty) failedReps += ((s"replay:$op", 0))
      failures ++= mismatches
    }
    t.uninstall()
    val per = t.spanMetrics
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    def layerDescendants(id: Int): Seq[Span] = children.getOrElse(id, Nil).flatMap(c =>
      (if (Layers.contains(c.name)) Seq(c) else Nil) ++ layerDescendants(c.id))
    val opRecords = wl.ops.map { op =>
      val root = spans.find(_.id == rootIds(op)).get
      val untraced = reps(op).find(_._1 == 1).get._3
      val layerSelf = layerDescendants(root.id).map(s => per(s.id)("self_s")).sum
      op -> Seq("untraced_s" -> untraced, "traced_s" -> root.wallMs / 1000.0,
        "overhead_s" -> (root.wallMs / 1000.0 - untraced),
        "layer_self_sum_s" -> layerSelf,
        "layer_self_share" -> layerSelf / math.max(1e-9, root.wallMs / 1000.0))
    }
    val replays = spans.filter(_.name.startsWith("replay:")).map { r =>
      val layerSelf = layerDescendants(r.id).map(s => per(s.id)("self_s")).sum
      r.name -> Seq("wall_s" -> r.wallMs / 1000.0, "layer_self_sum_s" -> layerSelf,
        "trials_exact" -> 3, "trials_approximate" -> (layerDescendants(r.id)
          .count(_.name == "score") - 3).max(0))
    }
    val counts = t.counts
    val pairs = counts.getOrElse("score.pairs", 0.0)
    val derived = counts ++ Map("score.edge_ratio" ->
      (if (pairs > 0) counts.getOrElse("cluster.edges", 0.0) / pairs else 0.0))
    val layerValues = t.layerMetrics(Layers) ++ Counts.map(c => c -> derived.getOrElse(c, 0.0)) :+
      ("trace.overhead_s" -> opRecords.map(_._2.toMap.apply("overhead_s")
        .asInstanceOf[Double]).sum)
    Seq("layer_metrics" -> layerValues, "ops" -> opRecords, "replays" -> replays,
      "count_bases" -> Seq("score.edge_ratio" -> s"cluster.edges / score.pairs = " +
        s"${counts.getOrElse("cluster.edges", 0.0)} / $pairs",
        "blocking.pair_completeness" -> "true pairs blocked / true pairs",
        "blocking.pair_quality" -> "true pairs blocked / pairs blocked"),
      "spans" -> spans.map(s => Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ per(s.id).toSeq))
  }

  /** Every measured rep of an op must write the same output and return the same
    * signature; the first one's output is checked in full. Warm-up reps only count
    * as failed when they throw.
    */
  private def check(): Map[String, Double] = wl.ops.map { op =>
    val rs = reps(op).filterNot(r => r._1 == 0 || failedReps((op, r._1)))
    if (rs.isEmpty) op -> 0.0 else {
    val hashes = rs.map(r => r._1 -> wl.outputHash(op, out(op, r._1)))
    val (ref, refSig) = (hashes.head._2, rs.head._2)
    hashes.zip(rs).foreach { case ((rep, h), (_, sig, _, _)) =>
      if (h != ref || sig != refSig) {
        failedReps += ((op, rep))
        failures += s"$op rep $rep output differs from rep ${rs.head._1}"
      }
    }
    val first = rs.head._1
    val c = try wl.check(op, out(op, first)) catch {
      case e: Throwable => e.printStackTrace()
        OpCheck(Seq(s"$op check threw ${e.getClass.getSimpleName}: ${e.getMessage}"), 0.0)
    }
    if (c.failures.nonEmpty) {
      failedReps += ((op, first))
      failures ++= c.failures
    }
    op -> c.f1
    }
  }.toMap

  private def report(stamp: Seq[(String, Any)], genS: Double, setupS: Double,
      f1: Map[String, Double], traceRecord: Seq[(String, Any)]): Unit = {
    val Seq(op1, op2) = wl.ops
    def timed(op: String) = reps(op).toSeq.filter(r => r._1 >= 1 && !failedReps((op, r._1)))
    def secs(op: String) = { val t = timed(op).map(_._3); if (t.nonEmpty) t
      else reps(op).toSeq.map(_._3) }
    val peak = wl.ops.map(op => median(reps(op).toSeq.filter(_._1 >= 1).map(_._4))).max
    val failed = failedReps.size
    val metrics: Seq[(String, (Double, String))] =
      if (!args.trace) Seq(
        "setup_s" -> ((setupS, "s")),
        "op1_s" -> ((median(secs(op1)), "s")),
        "op2_s" -> ((median(secs(op2)), "s")),
        "pair_f1" -> ((f1(op1), "ratio")),
        "peak_heap_mb" -> ((peak, "MB")))
      else traceRecord.toMap.apply("layer_metrics").asInstanceOf[Seq[(String, Double)]]
        .map { case (k, v) => k -> (v, unitOf(k)) } :+ ("op2_f1" -> ((f1(op2), "ratio")))
    val record = Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cores" -> cores, "ops" -> wl.ops,
      "inputs" -> stamp, "input_generation_s" -> genS, "setup_s" -> setupS,
      "phase_end_s" -> phases.toSeq,
      "timings_s" -> wl.ops.map(op => op -> summary(timed(op).map(_._3))),
      "warmup_s" -> wl.ops.map(op => op -> reps(op).filter(_._1 == 0).map(_._3).toSeq),
      "peak_heap_mb" -> wl.ops.map(op => op -> reps(op).map(_._4)),
      "f1" -> wl.ops.map(op => op -> f1(op)),
      "signatures" -> wl.ops.map(op => op -> reps(op).map(_._2).distinct.toSeq),
      "attempted" -> attempted, "failed" -> failed,
      "fail_ratio" -> failed.toDouble / attempted,
      "failures" -> failures.toSeq) ++ traceRecord
    val recDir = Paths.get(args.work).getParent.resolve("records")
    Files.createDirectories(recDir)
    val recFile = recDir.resolve(
      s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.write(recFile, json(record).getBytes(StandardCharsets.UTF_8))
    failures.foreach(f => System.err.println(s"[linkbench] FAILED $f"))
    println(json(Seq("record" -> recFile.toString, "inputs" -> stamp)))
    println(json(Seq(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) })))
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "self_s" | "task_s" | "driver_s" | "plan_s" | "gc_s" | "overhead_s" => "s"
    case "shuffle_mb" | "spill_mb" => "MB"
    case "pair_completeness" | "pair_quality" | "edge_ratio" => "ratio"
    case _ => "count"
  }
}
