package linkbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val nodes = Seq("a", "b", "c", "d", "e", "f")
  private val edges = Seq(("c", "b"), ("b", "a"), ("e", "d"))

  test("union-find maps every node to its component's smallest id") {
    assert(Checks.components(nodes, edges) ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d", "f" -> "f"))
  }

  test("a wrong cluster map is caught") {
    val expected = Checks.components(nodes, edges)
    assert(Checks.clusterMismatches(expected, expected) == 0)
    assert(Checks.clusterMismatches(expected.updated("c", "c"), expected) == 1)
    assert(Checks.clusterMismatches(expected - "f", expected) == 1)
    assert(Checks.clusterMismatches(expected.updated("z", "z"), expected) == 1)
  }

  test("rule pair counts match brute-force enumeration, OR branches included") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(60)(Array.fill(3)(if (rnd.nextInt(8) == 0) null else
      rnd.nextInt(4).toString))
    val branches = Seq(Seq(0), Seq(1, 2))
    def agree(a: Array[String], b: Array[String]) =
      branches.exists(_.forall(c => a(c) != null && a(c) == b(c)))
    val brute = (for (i <- rows.indices; j <- i + 1 until rows.size
      if agree(rows(i), rows(j))) yield 1).size
    assert(Checks.rulePairs(rows, branches) == brute)
    val (covered, total) = Checks.blockedTruePairs(rows.zipWithIndex.map {
      case (r, i) => (i % 10, r) }, branches)
    val byEntity = rows.indices.groupBy(_ % 10).values.toSeq
    assert(total == byEntity.map(g => g.size * (g.size - 1) / 2).sum)
    assert(covered == byEntity.map(g => (for (i <- g; j <- g if i < j &&
      agree(rows(i), rows(j))) yield 1).size).sum)
  }

  test("pairwise F1 of clusterings and pair sets") {
    val truth = Map("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 2)
    assert(Checks.clusterF1(Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"), truth) == 1.0)
    // predicts a-b only: 1 of 3 true pairs, no false ones
    assert(Checks.clusterF1(Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "d"), truth) ==
      2.0 * 1 / (1 + 3))
    assert(Checks.pairF1(Set(("b", "a"), ("c", "d")), Set(("a", "b"))) == 2.0 * 1 / (2 + 1))
  }

  test("shingle Jaccard and its threshold check") {
    val a = "w1 w2 w3 w4 w5"
    val b = "w1 w2 w3 w4 w9"
    assert(Checks.shingles(a, 3) == Set("w1 w2 w3", "w2 w3 w4", "w3 w4 w5"))
    assert(Checks.shingles("w1 w2", 3).isEmpty)
    assert(Checks.jaccard(Checks.shingles(a, 3), Checks.shingles(b, 3)) == 2.0 / 4)
    val texts = Map("a" -> a, "b" -> b)
    assert(Checks.jaccardViolations(Seq(("a", "b")), texts, 3, 0.5) == 0)
    assert(Checks.jaccardViolations(Seq(("a", "b")), texts, 3, 0.6) == 1)
  }
}
