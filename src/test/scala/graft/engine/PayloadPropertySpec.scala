package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for payload-shape robustness (SURVEY §5's planned
  * third leg): the reference pins behavior with 3 fixed payloads; these
  * drive the transform/filter channels with GENERATED shapes — the
  * dimension where per-event dynamic schema inference can break.
  *
  * Case counts are kept small (each case runs Spark jobs).
  */
class PayloadPropertySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def spark = SparkSpec.spark
  private lazy val transformer = new PayloadTransformer(spark)

  /** Drive a generator with fixed seeds (deterministic, replayable;
    * scalacheck's scalatest bridge is not in the offline dep set).
    */
  private def forAll[T](gen: Gen[T], cases: Int = 10)(body: T => Unit): Unit = {
    var executed = 0
    (0 until cases).foreach { i =>
      gen(Gen.Parameters.default.withSize(8), Seed(42L + i)).foreach { v =>
        executed += 1
        body(v)
      }
    }
    assert(executed > 0, "generator produced no cases")
  }

  private val keyGen: Gen[String] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private val scalarGen: Gen[Any] = Gen.oneOf(
    Gen.alphaNumStr.map(s => s.take(12)),
    Gen.choose(-1000000L, 1000000L),
    Gen.choose(-1000.0, 1000.0).map(d => math.rint(d * 100) / 100),
    Gen.oneOf(true, false))

  /** Flat object with 1..5 distinct keys and scalar values. */
  private val flatObjGen: Gen[Map[String, Any]] = for {
    n <- Gen.choose(1, 5)
    keys <- Gen.listOfN(n, keyGen).map(_.distinct)
    vals <- Gen.listOfN(keys.size, scalarGen)
  } yield keys.zip(vals).toMap

  /** Payload with optional nesting: flat scalars + one nested object. */
  private val nestedObjGen: Gen[Map[String, Any]] = for {
    flat <- flatObjGen
    nested <- flatObjGen
  } yield flat + ("nested" -> nested)

  private def toJson(m: Map[String, Any]): String = {
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach {
      case (k, v: String) => node.put(k, v)
      case (k, v: Long) => node.put(k, v)
      case (k, v: Double) => node.put(k, v)
      case (k, v: Boolean) => node.put(k, v)
      case (k, v: Map[_, _]) =>
        node.set[com.fasterxml.jackson.databind.node.ObjectNode](
          k, mapper.readTree(toJson(v.asInstanceOf[Map[String, Any]]))
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      case (k, null) => node.putNull(k)
      case (k, v) => node.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(node)
  }

  test("SELECT * round-trips any generated flat payload") {
    forAll(flatObjGen) { payload =>
      val json = toJson(payload)
      val out = transformer.transform("prop-w", "SELECT * FROM {{payload}}",
        json)
      assert(SparkSpec.jsonEq(out, json),
        s"round-trip mismatch: in=$json out=$out")
    }
  }

  test("nested dot-access projects any generated nested key") {
    forAll(nestedObjGen) { payload =>
      val nested = payload("nested").asInstanceOf[Map[String, Any]]
      val key = nested.keys.min // deterministic pick
      val out = transformer.transform("prop-w",
        s"SELECT nested.`$key` AS x FROM {{payload}}", toJson(payload))
      val expected = toJson(Map("x" -> nested(key)))
      assert(SparkSpec.jsonEq(out, expected),
        s"dot access mismatch: payload=${toJson(payload)} out=$out")
    }
  }

  test("filter gate agrees with predicate evaluation on generated ints") {
    val caseGen = for {
      obj <- flatObjGen
      n <- Gen.choose(-100L, 100L)
      threshold <- Gen.choose(-100L, 100L)
    } yield (obj + ("n" -> n), n, threshold)
    forAll(caseGen) { case (payload, n, threshold) =>
      val keep = transformer.applyFilter("prop-w", s"n > $threshold",
        toJson(payload))
      assert(keep == (n > threshold))
    }
  }

  test("batchFilter agrees with per-event applyFilter on same-shape batches") {
    val batchGen = for {
      size <- Gen.choose(1, 5)
      ns <- Gen.listOfN(size, Gen.choose(-50L, 50L))
      threshold <- Gen.choose(-50L, 50L)
    } yield (ns, threshold)
    forAll(batchGen) { case (ns, threshold) =>
      val events = ns.zipWithIndex.map { case (n, i) =>
        s"e$i" -> s"""{"n": $n, "tag": "t"}"""
      }
      val batch = transformer.batchFilter(events, s"n > $threshold")
      val perEvent = events.filter { case (_, json) =>
        transformer.applyFilter("prop-w", s"n > $threshold", json)
      }.map(_._1).toSet
      assert(batch == perEvent)
    }
  }

  test("array payloads shape as results arrays of the same size") {
    val arrGen = for {
      size <- Gen.choose(2, 6)
      objs <- Gen.listOfN(size, flatObjGen)
    } yield objs.map(o => o + ("k" -> 1L)) // shared key keeps schema sane
    forAll(arrGen) { objs =>
      val json = objs.map(toJson).mkString("[", ",", "]")
      val out = transformer.transform("prop-w",
        "SELECT k FROM {{payload}}", json)
      val tree = mapper.readTree(out)
      assert(tree.get("results").size() == objs.size)
    }
  }

  // ---- compiled path ≡ Spark path ≡ fresh inference ----

  /** Payload rows over a fixed vocabulary: any field may be missing or
    * null, `a` is integral or fractional, `n` is a nested object.
    */
  private val vocabRowGen: Gen[Map[String, Any]] = {
    def opt(g: Gen[Any]): Gen[Option[Any]] =
      Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(null)),
        5 -> g.map(Some(_)))
    for {
      a <- opt(Gen.oneOf(Gen.choose(-20L, 20L),
        Gen.choose(-80, 80).map(_ / 4.0)))
      b <- opt(Gen.oneOf("x", "abc", "Hello", "", "a-b"))
      c <- opt(Gen.oneOf(true, false))
      x <- opt(Gen.choose(0L, 99L))
      y <- opt(Gen.alphaStr.map(_.take(5)))
      n <- opt(Gen.const(Map("x" -> x, "y" -> y).collect {
        case (k, Some(v)) => k -> v }))
    } yield Map("a" -> a, "b" -> b, "c" -> c, "n" -> n).collect {
      case (k, Some(v)) => k -> v }
  }

  /** An object, or an array of 1..4 objects (fields missing per element). */
  private val vocabPayloadGen: Gen[String] = Gen.oneOf(
    vocabRowGen.map(toJson),
    Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, vocabRowGen))
      .map(_.map(toJson).mkString("[", ", ", "]")))

  private lazy val engine = SparkSpec.newEngine()
  private lazy val udfName = {
    engine.udfs.register("prop-c", "tag",
      """def tag(s: String): String = s + "!"""")
    engine.udfs.qualifiedName("prop-c", "tag")
  }

  private def transforms = Seq(
    "SELECT * FROM {{payload}}",
    "SELECT n.x AS nx, n.y AS ny FROM {{payload}}",
    "SELECT a * 2 + 1 AS t, a / 4 AS q, -a AS neg FROM {{payload}}",
    """SELECT CASE WHEN a > 10 THEN 'big' WHEN a IS NULL THEN 'none'
      |ELSE 'small' END AS size FROM {{payload}}""".stripMargin,
    """SELECT upper(b) AS ub, concat(b, '-', cast(a AS string)) AS cat,
      |length(b) AS len, substr(b, 2) AS tail FROM {{payload}}""".stripMargin,
    "SELECT b, a FROM {{payload}} WHERE a > 5",
    s"SELECT $udfName(b) AS tag, c FROM {{payload}}")

  private def filters = Seq(
    "a > 5",
    "b = 'x' OR c",
    "n.x IS NOT NULL AND n.x < 50",
    "upper(b) LIKE 'A%'",
    s"$udfName(b) = 'x!'")

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Exception => Left(e) }

  test("compiled path returns the Spark path's output on generated payloads") {
    val t = engine.transformer
    var compiled = 0
    var total = 0
    forAll(vocabPayloadGen, cases = 30) { json =>
      transforms.foreach { q =>
        total += 1
        val fast = attempt(t.compiledTransform("prop-c", q, json))
        attempt(t.sparkTransform("prop-c", q, json)) match {
          case Right(out) =>
            assert(fast == Right(Some(out)), s"$q over $json")
            compiled += 1
          case Left(_) => // the compiled path refuses or fails it too
            assert(fast.forall(_.isEmpty), s"$q over $json")
        }
      }
      filters.foreach { f =>
        total += 1
        val fast = attempt(t.compiledFilter("prop-c", f, json))
        attempt(t.sparkFilter("prop-c", f, json)) match {
          case Right(keep) =>
            assert(fast == Right(Some(keep)), s"$f over $json")
            compiled += 1
          case Left(_) => assert(fast.forall(_.isEmpty), s"$f over $json")
        }
      }
    }
    assert(compiled * 2 > total, s"only $compiled of $total cases compiled")
  }

  /** The transform as a transformer with no cache runs it: schema
    * inferred from this payload alone, rows shaped with `toJSON`.
    */
  private def freshTransform(q: String, json: String): String = {
    val s = spark
    import s.implicits._
    val view = "fresh_" + java.util.UUID.randomUUID().toString.replace("-", "")
    s.read.json(Seq(json).toDS()).createOrReplaceTempView(view)
    try {
      val rows = s.sql(q.replace("{{payload}}", view)).toJSON.collect()
      rows.length match {
        case 0 => "{}"
        case 1 => rows.head
        case _ => rows.mkString("{\"results\": [", ", ", "]}")
      }
    } finally s.catalog.dropTempView(view)
  }

  /** Few fields, so a sequence repeats key shapes with other number
    * kinds and nulls.
    */
  private val narrowPayloadGen: Gen[String] = {
    val row = for {
      a <- Gen.oneOf[Any](Gen.choose(-9L, 9L), Gen.choose(-9, 9).map(_ / 2.0),
        Gen.const(null))
      b <- Gen.option(Gen.oneOf("x", "y"))
    } yield Map[String, Any]("a" -> a) ++ b.map("b" -> _)
    Gen.oneOf(row.map(toJson), Gen.choose(1, 3).flatMap(k =>
      Gen.listOfN(k, row)).map(_.map(toJson).mkString("[", ", ", "]")))
  }

  test("cached schemas give fresh inference's output over mixed sequences") {
    val t = new PayloadTransformer(spark) // one webhook sees every shape
    val q = "SELECT * FROM {{payload}}"
    forAll(Gen.listOfN(12, Gen.oneOf(vocabPayloadGen, narrowPayloadGen)),
      cases = 4) { seq =>
      seq.foreach { json =>
        assert(t.transform("prop-seq", q, json) == freshTransform(q, json),
          json)
      }
    }
  }

  test("an integral then a fractional number is not read with the first schema") {
    val t = new PayloadTransformer(spark)
    assert(t.transform("w", "SELECT * FROM {{payload}}", """{"amount": 1}""")
      == """{"amount":1}""")
    assert(t.transform("w", "SELECT * FROM {{payload}}", """{"amount": 1.5}""")
      == """{"amount":1.5}""")
    assert(!t.applyFilter("w", "amount > 1", """{"amount": 1}"""))
    assert(t.applyFilter("w", "amount > 1", """{"amount": 1.5}"""))
  }

  test("payloads differing only in values share one schema-cache entry") {
    val t = new PayloadTransformer(spark)
    (1 to 50).foreach(i =>
      assert(t.transform("w", "SELECT id FROM {{payload}}",
        s"""{"id":"evt-$i"}""") == s"""{"id":"evt-$i"}"""))
    assert(t.cachedShapes == 1)
  }

  test("shape keys separate token kinds and escapes, not values") {
    import PayloadTransformer.shapeKey
    assert(shapeKey("""{"a": 1, "b": "x"}""") == shapeKey("""{"a":2,"b":"y\"z"}"""))
    assert(shapeKey("""{"a": 1}""") != shapeKey("""{"a": 1.0}"""))
    assert(shapeKey("""{"a": 1}""") != shapeKey("""{"a": "1"}"""))
    assert(shapeKey("""{"a": true}""") != shapeKey("""{"a": null}"""))
    assert(shapeKey("""{"a": {"b": 1}}""") != shapeKey("""{"a": [1]}"""))
    assert(shapeKey("""[{"a": 1}]""") == shapeKey("""[{"a": 2}, {"a": 3}]"""))
    assert(shapeKey("""[{"a": 1}]""") != shapeKey("""{"a": 1}"""))
    // a name holding key syntax does not collide with two fields
    assert(shapeKey("""{"a\"s\"b": 1}""") != shapeKey("""{"a": "s", "b": 1}"""))
    // longs and wider integers infer differently
    assert(shapeKey("""{"a": 9223372036854775807}""") !=
      shapeKey("""{"a": 9223372036854775808}"""))
    // not strict JSON: keyed on the whole text
    assert(shapeKey("""{'a': 1}""") != shapeKey("""{'a': 2}"""))
    assert(shapeKey("""{"a": 01}""") != shapeKey("""{"a": 1}"""))
  }
}
