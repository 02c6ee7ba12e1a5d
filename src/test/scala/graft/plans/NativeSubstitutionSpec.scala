package graft.plans

import org.apache.spark.sql.functions._

import graft.engine.SparkSpec

/** Pins for the optimizer substitution rule: when it must fire, what it
  * must preserve, and when it must stay out of the way.
  */
class NativeSubstitutionSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  // parquet-backed (not a LocalRelation): ConvertToLocalRelation would
  // otherwise fold the whole projection during optimization and hide
  // the rewritten expression from the plan assertions
  private lazy val textsPath: String = {
    val p = java.nio.file.Files.createTempDirectory("nst").toString
    Seq((1L, "a b  c"), (2L, ""), (3L, "  "), (4L, "über café 😀 x"),
      (5L, null.asInstanceOf[String]))
      .toDF("id", "text").write.mode("overwrite").parquet(p)
    p
  }
  private def texts = s.read.parquet(textsPath)

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** Runs `body` with the rule excluded through Spark's own optimizer
    * conf: the reference path for the interpreted spellings.
    */
  private def withoutRule[T](body: => T): T = {
    val k = "spark.sql.optimizer.excludedRules"
    s.conf.set(k, NativeSubstitutionRule.ruleName)
    try body finally s.conf.unset(k)
  }

  test("word spelling rewrites to word_run_count and keeps values") {
    texts.createOrReplaceTempView("nst")
    val df = s.sql("SELECT id, size(filter(split(lower(text), ' '), " +
      "t -> t <> '')) AS c FROM nst")
    assert(optimized(df).contains("wordruncount"), optimized(df))
    val got = df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toMap
    // 'a b  c' -> 3, empty/blank -> 0, multibyte words -> 4, NULL -> NULL
    assert(got == Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 4, 5L -> null))
  }

  test("reversed comparison and missing lower() still rewrite") {
    texts.createOrReplaceTempView("nst")
    val rev = s.sql("SELECT size(filter(split(lower(text), ' '), " +
      "t -> '' <> t)) AS c FROM nst WHERE id = 1")
    assert(optimized(rev).contains("wordruncount"), optimized(rev))
    assert(rev.collect().head.getInt(0) == 3)
    val noLower = s.sql("SELECT size(filter(split(text, ' '), " +
      "t -> t <> '')) AS c FROM nst WHERE id = 4")
    assert(optimized(noLower).contains("wordruncount"), optimized(noLower))
    assert(noLower.collect().head.getInt(0) == 4)
  }

  test("non-matching shapes are untouched") {
    texts.createOrReplaceTempView("nst")
    // different separator, different predicate, different limit
    for (sql <- Seq(
      "SELECT size(filter(split(text, ','), t -> t <> '')) AS c FROM nst",
      "SELECT size(filter(split(text, ' '), t -> t <> 'x')) AS c FROM nst",
      "SELECT size(filter(split(text, ' ', 2), t -> t <> '')) AS c FROM nst")) {
      val df = s.sql(sql)
      assert(!optimized(df).contains("wordruncount"), sql)
    }
  }

  test("token substitution is ON by default, exact, and disable-able") {
    texts.createOrReplaceTempView("nst")
    val q = "SELECT id, size(regexp_extract_all(lower(text), " +
      "'[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) AS c FROM nst"
    val on = s.sql(q)
    assert(optimized(on).contains("tokenruncount"), optimized(on))
    val onVals = on.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toMap
    withoutRule {
      val off = s.sql(q)
      assert(!optimized(off).contains("tokenruncount"), optimized(off))
      val offVals = off.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getInt(1))).toMap
      assert(onVals == offVals)
    }
    // regexp_count spells the same replacement tree and rewrites too
    val rc = s.sql("SELECT regexp_count(lower(text), " +
      "'[a-z]+|[0-9]+|[^a-z0-9\\\\s]') AS c FROM nst WHERE id = 4")
    assert(optimized(rc).contains("tokenruncount"), optimized(rc))
  }

  test("token substitution is exact on the two full-lowercase code " +
      "points (U+212A KELVIN, U+0130 dotted I)") {
    // the r10 half-state gated the rewrite off over exactly these two;
    // the r11 classifier handles them byte-exact, so the default-on
    // rewrite must agree with lower()+regex on the adversarial cases
    val p = java.nio.file.Files.createTempDirectory("nstk").toString
    Seq((1L, "aKb"), (2L, "aİb"), (3L, "İİ"),
      (4L, "K"), (5L, "x KK 9İ2"))
      .toDF("id", "text").write.mode("overwrite").parquet(p)
    s.read.parquet(p).createOrReplaceTempView("nstk")
    val q = "SELECT id, size(regexp_extract_all(lower(text), " +
      "'[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) AS c FROM nstk"
    val on = s.sql(q)
    assert(optimized(on).contains("tokenruncount"), optimized(on))
    val got = on.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    withoutRule {
      val ref = s.sql(q).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(got == ref, s"native $got != regex $ref")
    }
    // aKb lowers to akb: ONE run; aİb lowers to ai̇b: run + mark + run
    assert(got == Map(1L -> 1, 2L -> 3, 3L -> 4, 4L -> 1, 5L -> 6))
  }

  test("hex-prefix spelling fuses to hex_prefix_long and keeps values") {
    texts.createOrReplaceTempView("nst")
    val spelling = graft.operators.Dedup
      .hexToLongSql("md5(coalesce(text, ''))", 1, "instr")
    val q = s"SELECT id, $spelling AS h FROM nst"
    val on = s.sql(q)
    assert(optimized(on).contains("hexprefixlong"), optimized(on))
    val onVals = on.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    withoutRule {
      val off = s.sql(q)
      assert(!optimized(off).contains("hexprefixlong"), optimized(off))
      val offVals = off.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(onVals == offVals)
    }
    // an offset start (the h2 = chars 9..16 spelling) fuses too
    val mid = s.sql("SELECT " + graft.operators.Dedup
      .hexToLongSql("md5(coalesce(text, ''))", 9, "instr") +
      " AS h FROM nst WHERE id = 1")
    assert(optimized(mid).contains("hexprefixlong"), optimized(mid))
  }

  test("hex-prefix spelling over a NON-md5 operand is untouched") {
    texts.createOrReplaceTempView("nst")
    // multibyte text breaks byte-position = char-position, so the rule
    // must leave a bare-string operand alone
    val q = "SELECT " + graft.operators.Dedup
      .hexToLongSql("text", 1, "instr") + " AS h FROM nst WHERE id = 4"
    assert(!optimized(s.sql(q)).contains("hexprefixlong"))
    // weight or position drift must not match either
    val drift = "SELECT " + graft.operators.Dedup
      .hexToLongSql("md5(text)", 1, "instr")
      .replace("* CAST(16 AS BIGINT)", "* CAST(17 AS BIGINT)") +
      " AS h FROM nst"
    assert(!optimized(s.sql(drift)).contains("hexprefixlong"))
  }

  test("word rule can be disabled by conf") {
    texts.createOrReplaceTempView("nst")
    withoutRule {
      val df = s.sql("SELECT size(filter(split(lower(text), ' '), " +
        "t -> t <> '')) AS c FROM nst WHERE id = 1")
      assert(!optimized(df).contains("wordruncount"), optimized(df))
      assert(df.collect().head.getInt(0) == 3)
    }
  }
}
