package linkbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, "test", start, end)

  test("covered time merges overlapping intervals and clips them to the window") {
    assert(Tracer.coveredMs(0, 100, Nil) == 0)
    assert(Tracer.coveredMs(0, 100, Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 30)
    assert(Tracer.coveredMs(0, 100, Seq((-50L, 10L), (90L, 200L))) == 20)
    assert(Tracer.coveredMs(0, 100, Seq((20L, 80L), (30L, 40L))) == 60)
    assert(Tracer.coveredMs(0, 100, Seq((100L, 120L), (-5L, 0L))) == 0)
  }

  test("self time is the span minus what its children cover") {
    val root = span(1, 0, 0, 1000)
    val a = span(2, 1, 100, 400)
    val b = span(3, 1, 300, 600)   // overlaps a: concurrent children count once
    val c = span(4, 1, 900, 1100)  // runs past the parent's end
    assert(Tracer.selfMs(root, Seq(a, b, c)) == 1000 - 500 - 100)
    assert(Tracer.selfMs(a, Nil) == 300)
  }

  test("driver time is the span wall with none of its jobs running") {
    val s = span(1, 0, 1000, 2000)
    assert(Tracer.driverMs(s, Nil) == 1000)
    assert(Tracer.driverMs(s, Seq((1100L, 1300L), (1200L, 1500L), (1900L, 2500L))) == 500)
    assert(Tracer.driverMs(s, Seq((0L, 5000L))) == 0)
  }
}
