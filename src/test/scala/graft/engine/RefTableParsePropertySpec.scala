package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Reference-table uploads are parsed on the driver; these pin the
  * parse to Spark's own reads of the same input. Every generated CSV is
  * line-safe (no line break inside a quoted field, no whitespace-only
  * line, no data line equal to the header line), so the line-per-record
  * read `spark.read.csv(lines.toDS())` is defined on it and must agree;
  * generated JSON records are compared with `spark.read.json` of the
  * records. Each case runs that read's Spark jobs, so counts stay small.
  */
class RefTableParsePropertySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def spark = SparkSpec.spark
  private lazy val tables = new ReferenceTables(spark)

  /** Drive a generator with fixed seeds (deterministic, replayable). */
  private def forAll[T](gen: Gen[T], cases: Int)(body: T => Unit): Unit = {
    var executed = 0
    (0 until cases).foreach { i =>
      gen(Gen.Parameters.default.withSize(8), Seed(7000L + i)).foreach { v =>
        executed += 1
        body(v)
      }
    }
    assert(executed > 0, "generator produced no cases")
  }

  private def assertSame(uploaded: String, expected: DataFrame,
      input: String): Unit = {
    val got = spark.table(uploaded)
    assert(got.schema == expected.schema, s"schema of:\n$input")
    assert(got.collect().toSeq == expected.collect().toSeq, s"rows of:\n$input")
  }

  // ---- CSV ----

  private def maybeEmpty(g: Gen[String]): Gen[String] =
    Gen.frequency(1 -> Gen.const(""), 6 -> g)

  /** One column's cells: each column keeps to one kind (so inference
    * has something to find), or mixes them.
    */
  private val kinds: Seq[Gen[String]] = {
    val date = for {
      y <- Gen.choose(1990, 2030); m <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    } yield f"$y%04d-$m%02d-$d%02d"
    val time = for {
      h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
    } yield f"$h%02d:$mi%02d:$s%02d"
    Seq(
      Gen.choose(-1000, 1000).map(_.toString),
      Gen.choose(3000000000L, 9000000000000L).map(_.toString),
      Gen.choose(-10000.0, 10000.0).map(d => f"$d%.2f"),
      Gen.oneOf("true", "false", "TRUE"),
      date,
      for (d <- date; t <- time; sep <- Gen.oneOf(" ", "T")) yield s"$d$sep$t",
      Gen.oneOf("alpha", "beta gamma", "\"x, y\"", "ünïcode ✓", "42abc",
        "\"quoted\""))
  }

  private val csvGen: Gen[(Seq[String], String)] = for {
    ncols <- Gen.choose(1, 5)
    names <- Gen.listOfN(ncols,
      Gen.oneOf("id", "name", "amount", "when", "Name", "flag", ""))
    // an all-blank header line could equal a data line of empty cells
    header = if (names.forall(_.isEmpty)) "id" +: names.tail else names
    columns <- Gen.listOfN(ncols, Gen.frequency(
      6 -> Gen.oneOf(kinds).map(Seq(_)), 1 -> Gen.const(kinds)))
    nrows <- Gen.choose(0, 6)
    rows <- Gen.listOfN(nrows, for {
      cells <- Gen.sequence[Seq[String], String](
        columns.map(ks => maybeEmpty(Gen.oneOf(ks).flatMap(identity))))
      ragged <- Gen.frequency(8 -> Gen.const(0), 1 -> Gen.const(-1),
        1 -> Gen.const(1))
    } yield ragged match {
      case -1 if cells.size > 1 => cells.init
      case 1 => cells :+ "7"
      case _ => cells
    })
    blank <- Gen.frequency(4 -> Gen.const(-1), 1 -> Gen.choose(1, nrows + 1))
    eol <- Gen.oneOf("\n", "\r\n")
    trailing <- Gen.oneOf(true, false)
  } yield {
    val lines = (header +: rows).map(_.mkString(","))
    val withBlank =
      if (blank < 0 || blank > lines.size) lines
      else lines.patch(blank, Seq(""), 0)
    (withBlank, withBlank.mkString(eol) + (if (trailing) eol else ""))
  }

  /** Spark's CSV inference folds the rows of each partition in order and
    * then merges the partitions' types, and the fold is not
    * order-free: a column typed timestamp so far accepts "-5388.42" (the
    * timestamp parser reads it as a year), while a timestamp and a
    * number merged across partitions make a string. So the line read's
    * types depend on how its lines are sliced into partitions; the upload
    * folds its one text in order, as a read of one file does, and is
    * compared with the line read in one partition.
    */
  private lazy val onePartition = {
    val s = spark.newSession()
    s.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    s
  }

  test("a CSV upload reads like spark.read.csv of its lines") {
    val s = onePartition
    import s.implicits._
    forAll(csvGen, cases = 40) { case (lines, text) =>
      val q = tables.uploadCsv("prop-csv", "t", "", text).qualifiedName
      assertSame(q, s.read.option("header", "true")
        .option("inferSchema", "true").csv(lines.toDS()), text)
    }
  }

  // ---- JSON ----

  private val keyGen = Gen.oneOf("a", "b", "c", "nested", "list")

  private def valueGen(depth: Int): Gen[Any] = {
    val scalar: Gen[Any] = Gen.oneOf(
      Gen.choose(-1000000L, 1000000L),
      Gen.choose(-1000.0, 1000.0).map(d => math.rint(d * 100) / 100),
      Gen.listOfN(19, Gen.numChar).map(ds => BigInt("1" + ds.mkString)),
      Gen.alphaStr.map(_.take(8)),
      Gen.oneOf(true, false),
      Gen.const(null))
    if (depth == 0) scalar
    else Gen.frequency(
      5 -> scalar,
      1 -> objectGen(depth - 1),
      1 -> Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-5L, 5L), Gen.choose(-5.0, 5.0).map(math.rint))))
        .map(_.toList),
      1 -> Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, objectGen(0)))
        .map(_.toList))
  }

  private def objectGen(depth: Int): Gen[Map[String, Any]] = for {
    n <- Gen.choose(1, 4)
    keys <- Gen.listOfN(n, keyGen).map(_.distinct)
    vals <- Gen.listOfN(keys.size, valueGen(depth))
  } yield keys.zip(vals).toMap

  private def node(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case null => mapper.nullNode()
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case b: BigInt => mapper.getNodeFactory.numberNode(b.bigInteger)
    case s: String => mapper.getNodeFactory.textNode(s)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case m: Map[_, _] =>
      val o: ObjectNode = mapper.createObjectNode()
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .foreach { case (k, x) => o.set[ObjectNode](k, node(x)) }
      o
    case xs: List[_] =>
      val a: ArrayNode = mapper.createArrayNode()
      xs.foreach(x => a.add(node(x)))
      a
  }

  private val recordsGen: Gen[Seq[String]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, objectGen(2)))
      .map(_.map(m => mapper.writeValueAsString(node(m))))

  test("a JSON upload reads like spark.read.json of its records") {
    val s = spark
    import s.implicits._
    forAll(recordsGen, cases = 40) { records =>
      val text = records.mkString("\n")
      val q = tables.uploadJson("prop-json", "t", "", text).qualifiedName
      assertSame(q, spark.read.json(records.toDS()), text)
    }
  }
}
