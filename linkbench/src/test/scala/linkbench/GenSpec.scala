package linkbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", 2L)
    .config("spark.ui.enabled", "false").getOrCreate()
  private lazy val tmp = Files.createTempDirectory("linkbench-gen")

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
  }

  /** The parquet part files under `dir`, in order, as bytes. */
  private def parts(dir: Path): Seq[Seq[Byte]] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p).toSeq)

  private def personFiles(seed: Long, name: String): Seq[Seq[Byte]] = {
    val dir = tmp.resolve(name)
    val ps = Gen.persons(seed, Gen.PersonSpec(rows = 2000, postcodes = 100, postcodeSkew = 0.5))
    Gen.writeParquet(spark, Gen.personRows(ps), Gen.PersonSchema, 3, dir.toString)
    parts(dir)
  }

  private def docFiles(seed: Long, name: String): Seq[Seq[Byte]] = {
    val dir = tmp.resolve(name)
    val (c, b) = Gen.documents(seed, Gen.DocSpec(corpus = 500, batch = 50))
    Gen.writeParquet(spark, Gen.docRows(c ++ b), Gen.DocSchema, 2, dir.toString)
    parts(dir)
  }

  test("the same seed gives byte-identical person and document inputs") {
    val p = personFiles(1, "p1a")
    assert(p.size == 3)
    assert(p == personFiles(1, "p1b"))
    val d = docFiles(1, "d1a")
    assert(d.size == 2)
    assert(d == docFiles(1, "d1b"))
  }

  test("a different seed gives different inputs") {
    assert(personFiles(1, "p1c") != personFiles(2, "p2"))
    assert(docFiles(1, "d1c") != docFiles(2, "d2"))
  }

  test("generated persons have the requested shape") {
    val spec = Gen.PersonSpec(rows = 5000, postcodes = 200, postcodeSkew = 0.5)
    val ps = Gen.persons(3, spec)
    assert(ps.size == 5000 && ps.map(_.uid).distinct.size == 5000)
    val stamp = Gen.personStamp(ps, 1).toMap
    assert(math.abs(stamp("duplicate_share").asInstanceOf[Double] - spec.dupShare) < 0.03)
    assert(math.abs(stamp("null_share").asInstanceOf[Double] - spec.nullShare) < 0.01)
    assert(ps.forall(_.values.length == Gen.Attrs.size))
  }

  test("planted near copies stay similar, unrelated documents do not") {
    val (corpus, _) = Gen.documents(4, Gen.DocSpec(corpus = 400, batch = 10))
    val groups = corpus.groupBy(_.group).values.filter(_.size > 1).toSeq
    assert(groups.nonEmpty)
    groups.foreach { g =>
      val j = Checks.jaccard(Checks.shingles(g(0).text, 3), Checks.shingles(g(1).text, 3))
      assert(j > 0.2, s"near copies ${g(0).id}, ${g(1).id} have Jaccard $j")
    }
    val singles = corpus.groupBy(_.group).values.filter(_.size == 1).map(_.head).take(20).toSeq
    assert(Checks.jaccard(Checks.shingles(singles(0).text, 3),
      Checks.shingles(singles(1).text, 3)) < 0.05)
  }
}
