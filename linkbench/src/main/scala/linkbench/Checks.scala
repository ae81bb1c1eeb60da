package linkbench

import scala.collection.mutable

/** Output checks computed on the driver, independently of the engine: the
  * benchmark's own union-find, block arithmetic, shingling and pairwise F1.
  */
object Checks {

  /** Union-find over `edges`; every node of `nodes` (and every edge endpoint) maps
    * to the lexicographically smallest node of its component, which is the cluster
    * id the engine's connected components assigns.
    */
  def components(nodes: Iterable[String], edges: Iterable[(String, String)])
      : Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    nodes.foreach(n => parent.getOrElseUpdate(n, n))
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Nodes whose cluster id differs from the expected map, plus nodes missing on
    * either side.
    */
  def clusterMismatches(actual: Map[String, String], expected: Map[String, String]): Int =
    (actual.keySet ++ expected.keySet).count(k => actual.get(k) != expected.get(k))

  /** Pairwise F1 of a clustering against true groups over the same records. */
  def clusterF1(clusters: Map[String, String], truth: Map[String, Int]): Double = {
    def pairs(sizes: Iterable[Int]): Long = sizes.map(n => n.toLong * (n - 1) / 2).sum
    val predicted = pairs(clusters.values.groupBy(identity).values.map(_.size))
    val actual = pairs(truth.values.groupBy(identity).values.map(_.size))
    val both = pairs(clusters.toSeq.groupBy { case (k, c) => (c, truth(k)) }.values.map(_.size))
    f1(both, predicted, actual)
  }

  /** F1 of a predicted pair set against a true pair set (pairs unordered). */
  def pairF1(predicted: Set[(String, String)], truth: Set[(String, String)]): Double = {
    val p = predicted.map(canon)
    val t = truth.map(canon)
    f1(p.count(t.contains), p.size, t.size)
  }

  def canon(p: (String, String)): (String, String) = if (p._1 <= p._2) p else p.swap

  private def f1(both: Long, predicted: Long, actual: Long): Double =
    if (predicted + actual == 0) 1.0 else 2.0 * both / (predicted + actual)

  /** All unordered pairs inside each group of `members` (id → group). */
  def groupPairs(members: Iterable[(String, Int)]): Set[(String, String)] =
    members.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).toSeq.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet

  /** Distinct word `n`-gram shingles: whitespace tokens joined by one space. */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Pairs whose exact shingle Jaccard falls below `threshold`. */
  def jaccardViolations(pairs: Iterable[(String, String)], texts: String => String,
      n: Int, threshold: Double): Int =
    pairs.count { case (a, b) =>
      jaccard(shingles(texts(a), n), shingles(texts(b), n)) < threshold - 1e-9
    }

  /** Blocked pair count of a rule given as OR-branches of AND-ed column equalities,
    * by inclusion–exclusion over branch subsets: a subset's pairs agree on the union
    * of its columns, all non-null.
    */
  def rulePairs(rows: Seq[Array[String]], branches: Seq[Seq[Int]]): Long = {
    val subsets = (1 to branches.size).flatMap(k => branches.indices.combinations(k))
    subsets.map { s =>
      val cols = s.flatMap(branches).distinct
      val keys = rows.flatMap { r =>
        val v = cols.map(r(_))
        if (v.contains(null)) None else Some(v.mkString("\u0001"))
      }
      val n = Gen.blockPairs(keys)
      if (s.size % 2 == 1) n else -n
    }.sum
  }

  /** True pairs (same entity) whose records agree on some branch of the rule. */
  def blockedTruePairs(rows: Seq[(Int, Array[String])], branches: Seq[Seq[Int]])
      : (Long, Long) = {
    var covered = 0L
    var total = 0L
    rows.groupBy(_._1).valuesIterator.foreach { g =>
      val rs = g.map(_._2)
      for (i <- rs.indices; j <- i + 1 until rs.size) {
        total += 1
        if (branches.exists(_.forall(c => rs(i)(c) != null && rs(i)(c) == rs(j)(c))))
          covered += 1
      }
    }
    (covered, total)
  }
}
