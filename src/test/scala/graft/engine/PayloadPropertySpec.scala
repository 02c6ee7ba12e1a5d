package graft.engine

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.catalyst.json.InferJsonSchema
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for payload-shape robustness (SURVEY §5's planned
  * third leg): the reference pins behavior with 3 fixed payloads; these
  * drive the transform/filter channels with GENERATED shapes — the
  * dimension where per-event dynamic schema inference can break.
  *
  * Case counts are kept small (each case runs Spark jobs).
  */
class PayloadPropertySpec extends SparkSpec {

  private val mapper = new ObjectMapper()
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

  // ---- compiled reference-table joins ≡ Spark path ----

  /** Rows whose `k` is integral, null or missing and whose `s` is one of
    * the table's names or missing.
    */
  private val joinRowGen: Gen[Map[String, Any]] = for {
    k <- Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(null)),
      6 -> Gen.choose(-1L, 8L).map(Some(_)))
    s <- Gen.frequency(1 -> Gen.const(None),
      4 -> Gen.oneOf("one", "two", "deux", "x").map(Some(_)))
  } yield Map("k" -> k, "s" -> s).collect { case (n, Some(v)) => n -> v }

  private val joinPayloadGen: Gen[String] = Gen.oneOf(
    joinRowGen.map(toJson),
    Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, joinRowGen))
      .map(_.map(toJson).mkString("[", ", ", "]")))

  /** Two tables of one webhook: `ids` (CSV, `int` keys, key 2 twice, one
    * null key) and `codes` (JSON, `string` keys that read as numbers).
    */
  private lazy val refTables = {
    val ids = engine.refTables.uploadCsv("prop-j", "ids", "",
      "id,name\n1,one\n2,two\n2,deux\n3,three\n,nokey").qualifiedName
    val codes = engine.refTables.uploadJson("prop-j", "codes", "",
      """[{"code": "1", "label": "c-one"}, {"code": "07", "label": "c-seven"},
        | {"code": "3", "label": "c-three"}]""".stripMargin).qualifiedName
    (ids, codes)
  }

  private def joinTransforms = {
    val (ids, codes) = refTables
    Seq(
      s"SELECT p.k, r.name FROM {{payload}} p JOIN $ids r ON p.k = r.id",
      s"SELECT p.k, p.s, r.name FROM {{payload}} p LEFT JOIN $ids r ON p.k = r.id",
      s"SELECT p.k, r.name FROM {{payload}} p LEFT JOIN $ids r " +
        "ON p.k = r.id AND r.name <> p.s",
      s"SELECT p.k, r.label FROM {{payload}} p LEFT JOIN $codes r ON p.k = r.code",
      s"SELECT r.name, p.k FROM $ids r RIGHT JOIN {{payload}} p ON r.id = p.k",
      s"SELECT r.id, p.s FROM $ids r JOIN {{payload}} p ON r.name = p.s",
      s"SELECT p.k, r.name, c.label FROM {{payload}} p " +
        s"LEFT JOIN $ids r ON p.k = r.id LEFT JOIN $codes c ON r.id = c.code",
      s"SELECT p.k FROM {{payload}} p LEFT JOIN $ids r ON p.k = r.id " +
        "WHERE r.name IS NULL")
  }

  /** Output with the rows of a `{"results": [...]}` sorted: without an
    * ORDER BY, the Spark path's join order follows its physical plan.
    */
  private def rowsUnordered(json: String): String = {
    val tree = mapper.readTree(json)
    if (!tree.has("results")) json
    else tree.get("results").elements().asScala.map(_.toString).toSeq.sorted
      .mkString("[", ",", "]")
  }

  test("compiled reference-table joins return the Spark path's output") {
    val t = engine.transformer
    val compiledCount = scala.collection.mutable.Map[String, Int]()
    var fanOut = 0
    forAll(joinPayloadGen, cases = 30) { json =>
      joinTransforms.foreach { q =>
        val fast = attempt(t.compiledTransform("prop-j", q, json))
        attempt(t.sparkTransform("prop-j", q, json)) match {
          case Right(out) =>
            assert(fast.map(_.map(rowsUnordered)) == Right(Some(rowsUnordered(out))),
              s"$q over $json")
            compiledCount(q) = compiledCount.getOrElse(q, 0) + 1
            if (out.startsWith("{\"results\"")) fanOut += 1
          case Left(_) => assert(fast.forall(_.isEmpty), s"$q over $json")
        }
      }
    }
    joinTransforms.foreach(q => assert(compiledCount.contains(q), s"never compiled: $q"))
    assert(fanOut > 0, "no payload fanned out to several rows")
  }

  test("joins that do not preserve the payload side take the Spark path") {
    val t = engine.transformer
    val (ids, _) = refTables
    val json = """{"k": 2, "s": "two"}"""
    Seq(
      s"SELECT p.k, r.name FROM {{payload}} p FULL JOIN $ids r ON p.k = r.id",
      s"SELECT p.k, r.name FROM $ids r LEFT JOIN {{payload}} p ON p.k = r.id",
      s"SELECT p.k, r.name FROM {{payload}} p JOIN $ids r ON p.k < r.id",
      s"SELECT p.k, r.name FROM {{payload}} p " +
        s"JOIN (SELECT * FROM $ids LIMIT 2) r ON p.k = r.id"
    ).foreach { q =>
      assert(t.compiledTransform("prop-j", q, json).isEmpty, q)
      assert(t.transform("prop-j", q, json) == t.sparkTransform("prop-j", q, json), q)
    }
    // the control compiles
    assert(t.compiledTransform("prop-j", joinTransforms.head, json).isDefined)
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

  /** JSON text of every kind a first-seen payload can be: objects over a
    * small key vocabulary (so array elements merge fields), arrays mixing
    * integral and fractional numbers, nulls, empty objects and arrays,
    * integers of 19 digits and more, top-level scalars, malformed text.
    */
  private val anyJsonGen: Gen[String] = {
    val bigInt = Gen.choose(19, 24).flatMap(n =>
      Gen.listOfN(n, Gen.numChar).map(ds => ("1" +: ds).mkString))
    val scalar = Gen.oneOf(
      Gen.choose(-1000L, 1000L).map(_.toString),
      Gen.choose(-1000.0, 1000.0).map(d => (math.rint(d * 100) / 100).toString),
      bigInt, Gen.const("1e3"), Gen.const("null"), Gen.oneOf("true", "false"),
      Gen.alphaNumStr.map(v => "\"" + v.take(8) + "\""))
    def value(depth: Int): Gen[String] =
      if (depth == 0) scalar
      else Gen.frequency(3 -> scalar, 2 -> obj(depth - 1), 2 -> arr(depth - 1))
    def obj(depth: Int): Gen[String] = for {
      n <- Gen.choose(0, 3)
      keys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d_e")).map(_.distinct)
      vals <- Gen.listOfN(keys.size, value(depth))
    } yield keys.zip(vals).map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    def arr(depth: Int): Gen[String] = Gen.choose(0, 4)
      .flatMap(n => Gen.listOfN(n, value(depth))).map(_.mkString("[", ", ", "]"))
    val malformed = Gen.oneOf("""{"a": """, """{'a': 1}""", "[1, 2",
      "not json", """{"a": 01}""", "", "   ", """{"a": 1} trailing""")
    Gen.frequency(4 -> obj(2), 3 -> arr(2), 1 -> scalar, 1 -> malformed)
  }

  test("driver-side schema inference equals spark.read.json's") {
    val s = spark
    import s.implicits._
    def check(json: String): Unit = assert(
      org.apache.spark.sql.catalyst.json.InferJsonSchema(s, json) ==
        s.read.json(Seq(json).toDS()).schema, json)
    Seq("""[1, 2.5, null]""", """[{"a": 1}, {"a": 2.5}, {"b": null}]""",
      """{"a": {}, "b": []}""", """{"a": 12345678901234567890}""",
      """[[1], [2.5]]""", "{}", "[]", "null", "42", "\"text\"",
      """{"a": """, "").foreach(check)
    forAll(anyJsonGen, cases = 80)(check)
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
    // two spellings of one name share the entry their one schema needs
    assert(shapeKey("{\"a\\u0062\": 1}") == shapeKey("""{"ab": 1}"""))
    // longs and wider integers infer differently
    assert(shapeKey("""{"a": 9223372036854775807}""") !=
      shapeKey("""{"a": 9223372036854775808}"""))
    // not strict JSON: keyed on the whole text
    assert(shapeKey("""{'a': 1}""") != shapeKey("""{'a': 2}"""))
    assert(shapeKey("""{"a": 01}""") != shapeKey("""{"a": 1}"""))
  }

  /** Texts at the edges of strict JSON: empty and blank, single quotes,
    * leading zeros, NaN, a bad escape, a raw tab, trailing text, two
    * values, a stray close, nesting at and past Jackson's 1000 levels.
    */
  private val edgeTexts = Seq("", "   ", "{'a': 1}", "01", "NaN", "\"\\q\"",
    "\"a\tb\"", "{} x", "{}{}", "[1, 2]]", "[1,]", "{\"a\": 1,}", "\"abc", "-",
    "42", "-0", "1e5", "null", "\"\\u00e9\"", "{\"a\": 1}\n",
    "[" * 600 + "]" * 600, "[" * 1000 + "]" * 1000, "[" * 1001 + "]" * 1001)

  /** A generated text with one character dropped, a cut, or a JSON
    * delimiter inserted: mostly near-miss malformed text.
    */
  private val mangledGen: Gen[String] = for {
    json <- anyJsonGen
    at <- Gen.choose(0, json.length)
    edit <- Gen.oneOf("drop", "cut", ",", "]", "}", "\"", "'", "\\", "0", " x")
  } yield edit match {
    case "drop" => json.patch(at, Nil, 1)
    case "cut" => json.take(at)
    case insert => json.patch(at, insert, 0)
  }

  test("Json.isValid is readTree's verdict, with no tree") {
    val reference = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    def readTree(s: String) =
      try !reference.readTree(s).isMissingNode catch { case _: Exception => false }
    var valid, invalid = 0
    def check(s: String): Unit = {
      val v = Json.isValid(s)
      assert(v == readTree(s), s.take(120))
      if (v) valid += 1 else invalid += 1
    }
    edgeTexts.foreach(check)
    forAll(anyJsonGen, cases = 300)(check)
    forAll(mangledGen, cases = 300)(check)
    assert(valid > 200 && invalid > 150, s"$valid valid, $invalid invalid")
  }

  /** The text with other values of the same kinds: digits 1-8 count up
    * and 9 becomes 1 (so no number gains a leading zero), true and false
    * swap.
    */
  private def otherValues(json: String): String =
    json.map {
      case d if d >= '1' && d <= '8' => (d + 1).toChar
      case '9' => '1'
      case c => c
    }.replace("true", "\u0000").replace("false", "true").replace("\u0000", "false")

  test("payloads with equal shape keys infer equal schemas") {
    import PayloadTransformer.shapeKey
    val first = scala.collection.mutable.Map[String, (String, StructType)]()
    var shared = 0
    def check(json: String): Unit = {
      val schema = InferJsonSchema(spark, json)
      first.get(shapeKey(json)) match {
        case Some((other, s)) =>
          assert(schema == s, s"$json and $other share a key")
          shared += 1
        case None => first(shapeKey(json)) = (json, schema)
      }
    }
    forAll(Gen.oneOf(anyJsonGen, mangledGen), cases = 300) { json =>
      check(json)
      check(otherValues(json))
    }
    assert(shared > 200, s"only $shared payloads shared a key")
  }

  test("SELECT * over any payload text returns fresh spark.read.json's rows") {
    val t = new PayloadTransformer(spark) // one webhook sees every shape
    val q = "SELECT * FROM {{payload}}"
    def check(json: String): Unit =
      assert(t.transform("prop-any", q, json) == freshTransform(q, json), json)
    edgeTexts.filter(_.length < 100).foreach(check)
    forAll(anyJsonGen, cases = 100) { json =>
      check(json)
      check(otherValues(json))
    }
  }

  test("scalars, arrays of scalars and malformed text transform with no Spark job") {
    val t = new PayloadTransformer(spark)
    val q = "SELECT * FROM {{payload}}"
    Seq("42", "\"text\"", "null", "[1, 2.5]", "[{\"a\": 1}, 2]", "not json",
      "{\"a\": 01}", "").foreach { json =>
      val (jobs, out) = jobsIn(t.transform("prop-scalar", q, json))
      assert(jobs == 0, s"$jobs jobs for $json")
      assert(out == freshTransform(q, json), json)
    }
  }

  test("prepare's outcome is applyFilter followed by transform") {
    val t = engine.transformer
    val now = java.time.Instant.now()
    var (kept, dropped, failed) = (0, 0, 0)
    forAll(Gen.oneOf(vocabPayloadGen, anyJsonGen), cases = 12) { json =>
      (None +: filters.map(Some(_))).foreach { f =>
        transforms.foreach { q =>
          val w = Webhook("prop-c", "/prop-c", "https://example.com/sink", q,
            f, None, now, now)
          val expected = attempt {
            if (f.exists(!t.applyFilter(w.id, _, json))) None
            else Some(t.transform(w.id, q, json))
          }.left.map(WebhookEngine.errorBody)
          def outcome() = engine.prepare(w, "prop-raw", json) match {
            case Right(out) => Right(Some(out))
            case Left(r) if r.filtered => Right(None)
            case Left(r) => Left(r.responseBody)
          }
          val got = outcome()
          got match {
            case Right(Some(_)) => kept += 1
            case Right(None) => dropped += 1
            case Left(_) => failed += 1
          }
          assert(got == expected, s"filter $f, $q over $json")
          // a second evaluation of the same event audits the same body,
          // though a Spark-path error names a new payload view and new
          // expression ids on every run
          assert(outcome() == got, s"filter $f, $q over $json")
        }
      }
    }
    assert(kept > 0 && dropped > 0 && failed > 0, (kept, dropped, failed))
  }
}
