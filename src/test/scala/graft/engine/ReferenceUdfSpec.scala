package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.storage.StorageLevel

/** Ports of tests/test_reference_and_udf.py: reference-table CTAS
  * semantics, re-upload replacement, enrichment joins, and the UDF
  * lifecycle (register / update / rehydrate / use / reject invalid /
  * null semantics).
  */
class ReferenceUdfSpec extends SparkSpec {
  import SparkSpec._

  private val sampleCsv =
    """id,name,category,active
      |1,Item 1,A,true
      |2,Item 2,B,true
      |3,Item 3,A,false""".stripMargin

  test("CSV upload: CTAS content equality (test_reference_and_udf.py:21-79)") {
    val e = newEngine()
    val meta = e.refTables.uploadCsv("wid-1", "items", "test items", sampleCsv)
    assert(meta.qualifiedName == "ref_wid_1_items")
    val rows = spark.table(meta.qualifiedName)
      .orderBy("id").collect().toSeq
    assert(rows == Seq(Row(1, "Item 1", "A", true),
      Row(2, "Item 2", "B", true), Row(3, "Item 3", "A", false)))
  }

  test("re-upload replaces content (test_reference_and_udf.py:82-153)") {
    val e = newEngine()
    e.refTables.uploadCsv("wid-2", "items", "v1", sampleCsv)
    e.refTables.uploadCsv("wid-2", "items", "v2",
      "id,name\n9,Only Row")
    val rows = spark.table("ref_wid_2_items").collect().toSeq
    assert(rows == Seq(Row(9, "Only Row")))
    assert(e.refTables.forWebhook("wid-2").size == 1)
    assert(e.refTables.forWebhook("wid-2").head.description == "v2")
  }

  test("re-uploads and delete release the replaced table's cache") {
    val e = newEngine()
    val views = (0 to 5).map { i => // one upload, five re-uploads
      val q = e.refTables.uploadCsv("wid-cache", "t", "",
        ("id,v" +: (0 to i).map(n => s"$n,v$i")).mkString("\n")).qualifiedName
      spark.table(q)
    }
    // no uploaded table's plan is in the session's cache manager
    def cached = views.filter(_.storageLevel != StorageLevel.NONE)
    assert(cached.isEmpty)
    assert(spark.table("ref_wid_cache_t").count() == 6)
    e.refTables.delete("wid-cache")
    assert(cached.isEmpty)
  }

  test("JSON upload: every root value is a record, a root array's elements are rows") {
    val e = newEngine()
    def rows(text: String): Seq[Row] = {
      val q = e.refTables.uploadJson("wid-json", "t", "", text).qualifiedName
      spark.table(q).orderBy("a").collect().toSeq
    }
    val three = Seq(Row(1L), Row(2L), Row(3L))
    assert(rows("{\"a\":1}\n{\"a\":2}\n{\"a\":3}") == three) // JSON Lines
    assert(rows("""[{"a":1},{"a":2},{"a":3}]""") == three)
    assert(rows("[\n  {\n    \"a\": 1\n  },\n  {\"a\": 2},\n  {\"a\": 3}\n]\n") ==
      three)
    assert(rows("\n{\"a\":1}\n\n\n{\"a\":2}\r\n\n{\"a\":3}\n\n") == three)
  }

  test("CSV upload: a quoted field may span lines") {
    val e = newEngine()
    val q = e.refTables.uploadCsv("wid-csv", "notes", "",
      "id,note\n1,\"two\nlines\"\n2,plain").qualifiedName
    assert(spark.table(q).collect().toSeq ==
      Seq(Row(1, "two\nlines"), Row(2, "plain")))
  }

  test("table name sanitization (src/app.py:605-607)") {
    val e = newEngine()
    val meta = e.refTables.uploadCsv("wid-3", "my table!", "", "a\n1")
    assert(meta.qualifiedName == "ref_wid_3_my_table_")
  }

  test("enrichment join inside a transform (test_reference_and_udf.py:156-212)") {
    val e = newEngine()
    val w = e.register(WebhookConfig("/enrich", "https://example.com/x",
      "SELECT * FROM {{payload}}", None, None)).toOption.get
    val meta = e.refTables.uploadCsv(w.id, "items", "", sampleCsv)
    val out = e.transformer.transform(w.id,
      s"""SELECT p.order_id, p.item_id, r.name, r.category
         |FROM {{payload}} p JOIN ${meta.qualifiedName} r ON p.item_id = r.id""".stripMargin,
      """{"order_id": 555, "item_id": 2}""")
    assert(jsonEq(out,
      """{"order_id":555,"item_id":2,"name":"Item 2","category":"B"}"""))
  }

  // --- UDF lifecycle ---

  test("register + use in transform SQL (test_reference_and_udf.py:215-429)") {
    val e = newEngine()
    val udf = e.udfs.register("wid-u1", "to_uppercase",
      "def to_uppercase(text: String): String = text.toUpperCase")
      .toOption.get
    assert(udf.qualifiedName == "udf_wid_u1_to_uppercase")
    val out = e.transformer.transform("wid-u1",
      s"SELECT ${udf.qualifiedName}(name) AS upper_name FROM {{payload}}",
      """{"name": "hello"}""")
    assert(jsonEq(out, """{"upper_name":"HELLO"}"""))
  }

  test("re-registration updates in place (test_reference_and_udf.py:283-341)") {
    val e = newEngine()
    e.udfs.register("wid-u2", "f",
      "def f(s: String): String = s + \"-v1\"")
    e.udfs.register("wid-u2", "f",
      "def f(s: String): String = s + \"-v2\"")
    assert(e.udfs.forWebhook("wid-u2").size == 1)
    val out = e.transformer.transform("wid-u2",
      "SELECT udf_wid_u2_f(x) AS y FROM {{payload}}", """{"x": "a"}""")
    assert(jsonEq(out, """{"y":"a-v2"}"""))
  }

  test("rehydration from source only (test_reference_and_udf.py:344-389)") {
    val e = newEngine()
    e.udfs.register("wid-u3", "first_char",
      "def first_char(s: String): String = if (s.isEmpty) \"\" else s.substring(0, 1)")
    // simulate restart: a fresh registry seeded from stored source rows
    val e2 = newEngine()
    e.udfs.forWebhook("wid-u3").foreach(m =>
      e2.udfs.register(m.webhookId, m.functionName, m.functionCode))
    e2.udfs.loadWebhookUdfs("wid-u3")
    val out = e2.transformer.transform("wid-u3",
      "SELECT udf_wid_u3_first_char(s) AS c FROM {{payload}}",
      """{"s": "spark"}""")
    assert(jsonEq(out, """{"c":"s"}"""))
  }

  test("registration during the compiler warm-up compiles valid and rejects invalid source") {
    val e = newEngine()
    val warm = UdfCompiler.startWarmUp()
    val ok = e.udfs.register("wid-warm", "twice",
      "def twice(s: String): String = s + s")
    val bad = e.udfs.register("wid-warm", "broken",
      "def broken(s: String String = ")
    warm.join(60000)
    assert(!warm.isAlive)
    assert(ok.isRight)
    assert(bad.isLeft)
    val out = e.transformer.transform("wid-warm",
      "SELECT udf_wid_warm_twice(x) AS y FROM {{payload}}", """{"x": "ab"}""")
    assert(jsonEq(out, """{"y":"abab"}"""))
  }

  test("invalid code is rejected (test_reference_and_udf.py:432-444)") {
    val e = newEngine()
    assert(e.udfs.register("wid-u4", "broken",
      "def broken(s: String String = ").isLeft)
    assert(e.udfs.register("wid-u4", "missing",
      "def other_name(s: String): String = s").isLeft)
    assert(e.udfs.forWebhook("wid-u4").isEmpty)
  }

  test("null-in/null-out on any null argument (SURVEY §2.4)") {
    val e = newEngine()
    e.udfs.register("wid-u5", "combine",
      "def combine(a: String, b: String): String = a + \"|\" + b")
    val out = e.transformer.transform("wid-u5",
      """SELECT udf_wid_u5_combine(a, b) AS both,
        |       udf_wid_u5_combine(a, missing) AS one_null
        |FROM {{payload}}""".stripMargin,
      """{"a": "x", "b": "y", "missing": null}""")
    assert(jsonEq(out, """{"both":"x|y"}""") ||
      jsonEq(out, """{"both":"x|y","one_null":null}"""))
  }

  test("Option[String] return maps to nullable VARCHAR (SURVEY §2.4 JIRA regex)") {
    val e = newEngine()
    val udf = e.udfs.register("wid-u6", "extract_jira_key",
      """def extract_jira_key(text: String): Option[String] =
        |  "\\b[A-Z]+-\\d+\\b".r.findFirstIn(text)""".stripMargin).toOption.get
    val out = e.transformer.transform("wid-u6",
      s"""SELECT ${udf.qualifiedName}(msg) AS jira FROM {{payload}}""",
      """{"msg": "Fixed PROJ-123 yesterday"}""")
    assert(jsonEq(out, """{"jira":"PROJ-123"}"""))
    val none = e.transformer.transform("wid-u6",
      s"""SELECT msg, ${udf.qualifiedName}(msg) AS jira FROM {{payload}}""",
      """{"msg": "no ticket here"}""")
    assert(jsonEq(none, """{"msg":"no ticket here"}""") ||
      jsonEq(none, """{"msg":"no ticket here","jira":null}"""))
  }

  test("int-typed UDF return (src/app.py:726-734 type mapping)") {
    val e = newEngine()
    e.udfs.register("wid-u7", "strlen",
      "def strlen(s: String): Int = s.length")
    val out = e.transformer.transform("wid-u7",
      "SELECT udf_wid_u7_strlen(s) AS n FROM {{payload}}",
      """{"s": "abcde"}""")
    assert(jsonEq(out, """{"n":5}"""))
  }
}
