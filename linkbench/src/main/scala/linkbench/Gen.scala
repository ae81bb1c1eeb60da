package linkbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Seeded input generators: FEBRL-style person records and word-salad documents.
  *
  * Every value is drawn from fixed synthetic vocabularies with the seed's random
  * stream, so the same seed gives the same records in the same order, and the
  * parquet files written from them are byte-identical. The truth (entity of each record, planted group of
  * each document) stays on the benchmark side; the program only sees the parquet.
  */
object Gen {

  val Uid = "unique_id"
  val Attrs: Seq[String] = Seq("given_name", "surname", "street_number", "address_1",
    "suburb", "postcode", "state", "date_of_birth")
  val PostcodeIdx: Int = Attrs.indexOf("postcode")

  /** Draws ranks 0..n-1 with probability proportional to (rank+1)^-s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(i => math.pow(i.toDouble, -s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Consonants = "bcdfghjklmnprstvwyz"
  private val Vowels = "aeiou"

  private def word(rnd: Random, minSyl: Int, maxSyl: Int): String = {
    val syl = minSyl + rnd.nextInt(maxSyl - minSyl + 1)
    val sb = new StringBuilder
    (1 to syl).foreach { _ =>
      sb += Consonants(rnd.nextInt(Consonants.length))
      sb += Vowels(rnd.nextInt(Vowels.length))
    }
    if (rnd.nextInt(3) == 0) sb += Consonants(rnd.nextInt(Consonants.length))
    sb.toString
  }

  /** The synthetic vocabularies are the same for every seed, like a language: the
    * seed draws records and documents from them, so runs with different seeds
    * differ by sampling only, not in word lengths or value counts.
    */
  private val VocabularySeed = 7L

  /** `size` distinct synthetic words. */
  def vocabulary(rnd: Random, size: Int, minSyl: Int, maxSyl: Int): IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < size) seen += word(rnd, minSyl, maxSyl)
    seen.toIndexedSeq
  }

  // ---------------------------------------------------------------- persons

  /** One generated person record: `values` follow [[Attrs]]; null marks a missing cell. */
  final case class Person(uid: String, entity: Int, isCopy: Boolean, values: Array[String])

  /** @param postcodes postcode vocabulary size; with `postcodeSkew` it sets the
    *        postcode block sizes stamped into the record
    */
  final case class PersonSpec(rows: Int, postcodes: Int, postcodeSkew: Double,
      dupShare: Double = 0.3, nullShare: Double = 0.05, editShare: Double = 0.2)

  def persons(seed: Long, spec: PersonSpec): IndexedSeq[Person] = {
    val voc = new Random(VocabularySeed)
    val given = vocabulary(voc, 800, 1, 3)
    val surnames = vocabulary(voc, 3000, 2, 3)
    val streets = vocabulary(voc, 2000, 2, 3)
    val suffixes = IndexedSeq("street", "road", "avenue", "place", "crescent", "drive",
      "lane", "close")
    val suburbs = vocabulary(voc, 600, 2, 4)
    val states = vocabulary(voc, 8, 1, 1)
    val postcodes = voc.shuffle((10000 until 100000).toIndexedSeq).take(spec.postcodes)
      .map(_.toString)
    val rnd = new Random(seed)
    val zGiven = new Zipf(given.size, 1.0)
    val zSurname = new Zipf(surnames.size, 0.9)
    val zNumber = new Zipf(999, 0.8)
    val zStreet = new Zipf(streets.size, 0.7)
    val zSuburb = new Zipf(suburbs.size, 1.0)
    val zState = new Zipf(states.size, 1.2)
    val zPostcode = new Zipf(postcodes.size, spec.postcodeSkew)

    def fresh(): Array[String] = Array(
      given(zGiven.draw(rnd)),
      surnames(zSurname.draw(rnd)),
      (zNumber.draw(rnd) + 1).toString,
      s"${streets(zStreet.draw(rnd))} ${suffixes(rnd.nextInt(suffixes.size))}",
      suburbs(zSuburb.draw(rnd)),
      postcodes(zPostcode.draw(rnd)),
      states(zState.draw(rnd)),
      f"${1930 + rnd.nextInt(76)}%04d${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d")

    def typo(s: String): String = {
      val digits = s.forall(_.isDigit)
      def ch(): Char =
        if (digits) ('0' + rnd.nextInt(10)).toChar else ('a' + rnd.nextInt(26)).toChar
      val i = rnd.nextInt(s.length)
      rnd.nextInt(if (digits) 1 else 4) match {
        case 0 => s.updated(i, ch())
        case 1 if s.length > 2 => s.patch(i, Nil, 1)
        case 2 => s.patch(i, ch().toString, 0)
        case _ if s.length > 1 =>
          val j = math.min(i + 1, s.length - 1)
          val k = j - 1
          s.updated(k, s(j)).updated(j, s(k))
        case _ => s.updated(i, ch())
      }
    }
    def blank(v: Array[String]): Array[String] =
      v.map(x => if (rnd.nextDouble() < spec.nullShare) null else x)

    val out = scala.collection.mutable.ArrayBuffer[(Int, Boolean, Array[String])]()
    var entity = 0
    while (out.size < spec.rows) {
      val base = fresh()
      out += ((entity, false, blank(base)))
      if (rnd.nextDouble() < spec.dupShare) {
        (1 to 1 + rnd.nextInt(3)).foreach { _ =>
          val copy = base.map(x => if (rnd.nextDouble() < spec.editShare) typo(x) else x)
          out += ((entity, true, blank(copy)))
        }
      }
      entity += 1
    }
    rnd.shuffle(out.take(spec.rows).toIndexedSeq).zipWithIndex.map {
      case ((e, c, v), i) => Person(f"$i%07d", e, c, v)
    }
  }

  val PersonSchema: StructType =
    StructType((Uid +: Attrs).map(StructField(_, StringType, nullable = true)))

  def personRows(ps: Seq[Person]): Seq[Row] = ps.map(p => Row.fromSeq(p.uid +: p.values.toSeq))

  // ---------------------------------------------------------------- documents

  final case class Doc(id: String, group: Int, text: String)

  final case class DocSpec(corpus: Int, batch: Int, copyShare: Double = 0.2,
      batchCopyShare: Double = 0.2, minEdit: Double = 0.05, maxEdit: Double = 0.15)

  /** Corpus and incoming batch. About `copyShare` of corpus originals get one or two
    * near copies with `minEdit`..`maxEdit` of their tokens replaced; about
    * `batchCopyShare` of the batch are near copies of corpus documents, and a few
    * batch documents have a copy inside the batch. Documents of one planted group
    * share `group`.
    */
  def documents(seed: Long, spec: DocSpec): (IndexedSeq[Doc], IndexedSeq[Doc]) = {
    val words = vocabulary(new Random(VocabularySeed), 6000, 1, 3)
    val rnd = new Random(seed)
    val zWord = new Zipf(words.size, 1.0)
    def fresh(): Array[String] = Array.fill(40 + rnd.nextInt(41))(words(zWord.draw(rnd)))
    def nearCopy(toks: Array[String]): Array[String] = {
      val share = spec.minEdit + rnd.nextDouble() * (spec.maxEdit - spec.minEdit)
      val edits = math.max(1, math.round(share * toks.length).toInt)
      val c = toks.clone()
      rnd.shuffle(toks.indices.toList).take(edits).foreach(i => c(i) = words(zWord.draw(rnd)))
      c
    }

    val corpus = scala.collection.mutable.ArrayBuffer[(Int, Array[String])]()
    var group = 0
    while (corpus.size < spec.corpus) {
      val base = fresh()
      corpus += ((group, base))
      if (rnd.nextDouble() < spec.copyShare)
        (1 to 1 + rnd.nextInt(2)).foreach(_ => corpus += ((group, nearCopy(base))))
      group += 1
    }
    val corpusDocs = rnd.shuffle(corpus.take(spec.corpus).toIndexedSeq).zipWithIndex.map {
      case ((g, t), i) => Doc(f"d$i%07d", g, t.mkString(" "))
    }
    val batch = scala.collection.mutable.ArrayBuffer[(Int, Array[String])]()
    while (batch.size < spec.batch) {
      if (rnd.nextDouble() < spec.batchCopyShare) {
        val src = corpusDocs(rnd.nextInt(corpusDocs.size))
        batch += ((src.group, nearCopy(src.text.split(" "))))
      } else {
        val base = fresh()
        batch += ((group, base))
        if (rnd.nextDouble() < 0.05) batch += ((group, nearCopy(base)))
        group += 1
      }
    }
    val batchDocs = rnd.shuffle(batch.take(spec.batch).toIndexedSeq).zipWithIndex.map {
      case ((g, t), i) => Doc(f"n$i%07d", g, t.mkString(" "))
    }
    (corpusDocs, batchDocs)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docRows(ds: Seq[Doc]): Seq[Row] = ds.map(d => Row(d.id, d.text))

  // ---------------------------------------------------------------- writing

  /** Writes `rows` as exactly `files` parquet files (contiguous slices, in order). */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, files: Int,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)

  /** Σ C(b,2) over the blocks of equal non-null keys. */
  def blockPairs(keys: Iterable[String]): Long =
    keys.filter(_ != null).groupBy(identity).valuesIterator
      .map(b => b.size.toLong * (b.size - 1) / 2).sum

  /** Input properties stamped into every record the benchmark writes. */
  def personStamp(ps: Seq[Person], files: Int): Seq[(String, Any)] = {
    val blocks = ps.flatMap(p => Option(p.values(PostcodeIdx))).groupBy(identity)
      .values.map(_.size).toSeq.sorted
    val entities = ps.map(_.entity).distinct.size
    val dupEntities = ps.filter(_.isCopy).map(_.entity).distinct.size
    val cells = ps.size.toLong * Attrs.size
    Seq("rows" -> ps.size, "entities" -> entities,
      "duplicate_share" -> dupEntities.toDouble / entities,
      "null_share" -> ps.map(_.values.count(_ == null)).sum.toDouble / cells,
      "largest_block" -> blocks.lastOption.getOrElse(0),
      "median_block" -> (if (blocks.isEmpty) 0 else blocks(blocks.size / 2)),
      "block_key" -> "postcode", "files" -> files)
  }

  def docStamp(corpus: Seq[Doc], batch: Seq[Doc], files: Int): Seq[(String, Any)] = {
    val all = corpus ++ batch
    val groups = all.groupBy(_.group).values.map(_.size).toSeq.sorted
    Seq("rows" -> corpus.size, "batch_rows" -> batch.size, "entities" -> groups.size,
      "duplicate_share" -> groups.count(_ > 1).toDouble / groups.size,
      "null_share" -> 0.0,
      "largest_block" -> groups.last, "median_block" -> groups(groups.size / 2),
      "block_key" -> "planted near-dup group", "files" -> files)
  }
}
