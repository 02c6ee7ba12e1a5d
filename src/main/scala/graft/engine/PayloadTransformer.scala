package graft.engine

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.trees.TreePattern.{CURRENT_LIKE, PLAN_EXPRESSION}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The event hot path: payload JSON → rows → filter / transform
  * (reference operators P1/P2/P3, src/app.py:434-579).
  *
  * Two paths compute the same answer:
  *  - compiled: a filter or transform whose optimized plan is only
  *    Project / Filter nodes over the payload, with deterministic,
  *    subquery-free expressions that do not read the clock, is compiled
  *    once per (webhook, payload schema, array-or-object, query text,
  *    UDF-registry generation) into a predicate plus an `UnsafeProjection`
  *    of `to_json(struct(cols))`, and evaluated on the driver over rows
  *    parsed by a `from_json` projection compiled once per schema: no
  *    Catalyst planning, no temp view, no Spark job per event;
  *  - Spark: everything else (joins, aggregates, limits, sorts, windows,
  *    generators) and any compiled evaluation that throws runs as SQL
  *    over the parsed rows as a local relation, so every "Error: …"
  *    outcome is the Spark path's own. The filter is `SELECT 1 … WHERE`
  *    with `LIMIT 1`, and rows are shaped with `to_json(struct(...))`;
  *    the optimizer folds such plans over a local relation into the
  *    relation, so even this path launches no job unless the query
  *    reads another relation.
  *
  * Inferred payload schemas are cached per (webhook, [[shapeKey]]), so
  * steady-state events skip schema inference; both caches are bounded
  * LRUs.
  */
final class PayloadTransformer(spark: SparkSession) {
  import PayloadTransformer._

  private val shapes = new Lru[String, Shape](MaxShapes)
  private val plans = new Lru[PlanKey, Option[Stages]](MaxPlans)

  /** Run a `{{payload}}` transform over one payload; returns the shaped
    * JSON per the reference's contract (src/app.py:467-504):
    * one row → flat object, N rows → {"results": [...]}, zero → {}.
    */
  def transform(webhookId: String, transformQuery: String,
      payloadJson: String): String = {
    val p = parse(webhookId, payloadJson)
    compiledRun(webhookId, p, transformQuery, filter = false)(_.json(_))
      .map(shapeResult)
      .getOrElse(sparkTransform(p, transformQuery))
  }

  /** Filter gate: bare WHERE-condition over the payload relation;
    * true = keep (src/app.py:524-579). Null / no-match → filtered out.
    */
  def applyFilter(webhookId: String, filterQuery: String,
      payloadJson: String): Boolean = {
    val p = parse(webhookId, payloadJson)
    compiledRun(webhookId, p, filterQuery, filter = true)(_.keep(_))
      .getOrElse(sparkFilter(p, filterQuery))
  }

  // ---- payload shapes ----

  private def parse(webhookId: String, json: String): Payload = {
    val scan = new ShapeScan(json)
    val shape = shapes.getOrElseUpdate(webhookId + "\u0000" + scan.key,
      newShape(json, scan.isArray, scan.rowWise))
    Payload(json, shape,
      shape.parser.flatMap(p => attempt(parseRows(p, shape, json))))
  }

  private def newShape(json: String, isArray: Boolean,
      rowWise: Boolean): Shape = {
    import spark.implicits._
    val schema = spark.read.json(Seq(json).toDS()).schema
    val parser =
      if (!rowWise ||
        schema.fieldNames.contains(spark.sessionState.conf.columnNameOfCorruptRecord))
        None
      else attempt {
        import org.apache.spark.sql.functions.{col, from_json}
        val parsed = if (isArray) ArrayType(schema) else schema
        withPlaceholder(StructType(Seq(StructField("json", StringType)))) {
          (df, _, leaf) => compileRowWise(
            df.select(from_json(col("json"), parsed, Map.empty[String, String])), leaf)
        }
      }.flatten
    new Shape(schema, isArray, parser)
  }

  private def parseRows(parser: Stages, shape: Shape,
      json: String): Seq[InternalRow] = {
    val n = shape.schema.length
    val out = parser.synchronized {
      parser(InternalRow(UTF8String.fromString(json))).copy()
    }
    val rows =
      if (shape.isArray) {
        val a = out.getArray(0)
        (0 until a.numElements()).map(i => a.getStruct(i, n))
      } else Seq(out.getStruct(0, n))
    require(rows.forall(_ != null), "payload did not parse to rows")
    rows
  }

  // ---- compiled path ----

  private def compiledRun[T](webhookId: String, p: Payload, text: String,
      filter: Boolean)(run: (Stages, Seq[InternalRow]) => T): Option[T] =
    for {
      rows <- p.rows
      stages <- compiled(webhookId, p, text, filter)
      out <- attempt(run(stages, rows))
    } yield out

  private def compiled(webhookId: String, p: Payload, text: String,
      filter: Boolean): Option[Stages] = {
    val key = PlanKey(webhookId, p.shape.schema, p.shape.isArray, text,
      filter, UdfRegistry.generation)
    plans.getOrElseUpdate(key, compile(key))
  }

  /** Analyzes and optimizes the query once against an empty placeholder
    * of the schema; None when it is not row-wise or does not analyze.
    */
  private def compile(k: PlanKey): Option[Stages] =
    attempt(withPlaceholder(k.schema) { (_, view, leaf) =>
      compileRowWise(
        if (k.filter) filterDf(view, k.text)
        else jsonDf(spark.sql(substitute(k.text, view))), leaf)
    }).flatten

  /** Runs `body` with a temp view over an empty relation of `schema`,
    * backed by an RDD rather than a local relation, so the optimizer
    * keeps it as a leaf instead of folding queries over it away.
    */
  private def withPlaceholder[T](schema: StructType)(
      body: (DataFrame, String, RDD[InternalRow]) => T): T = {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val leaf = df.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.get
    val view = tempViewName()
    df.createOrReplaceTempView(view)
    try body(df, view, leaf)
    finally spark.catalog.dropTempView(view)
  }

  /** Driver-side stages of `df` when its optimized plan is Project /
    * Filter nodes directly over `leaf`, with deterministic expressions,
    * and its analyzed plan reads only `leaf`, holds no subquery and no
    * current-time expression (the optimizer folds `now()` into a literal
    * that a cached plan would keep).
    */
  private def compileRowWise(df: DataFrame,
      leaf: RDD[InternalRow]): Option[Stages] = {
    def isLeaf(p: LogicalPlan) = p match {
      case r: LogicalRDD => r.rdd eq leaf
      case _ => false
    }
    def stages(p: LogicalPlan): Option[List[Stage]] = p match {
      case l if isLeaf(l) => Some(Nil)
      case Project(list, child) if list.forall(_.deterministic) =>
        stages(child).map(Right(UnsafeProjection.create(list, child.output)) :: _)
      case Filter(cond, child) if cond.deterministic =>
        stages(child).map(Left(Predicate.create(cond, child.output)) :: _)
      case _ => None
    }
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(isLeaf) ||
      qe.analyzed.containsAnyPattern(CURRENT_LIKE, PLAN_EXPRESSION)) None
    else stages(qe.optimizedPlan).map { s =>
      s.foreach(_.fold(_.initialize(0), _.initialize(0)))
      new Stages(s.reverse)
    }
  }

  // ---- Spark path ----

  private def sparkTransform(p: Payload, transformQuery: String): String =
    withPayloadView(p) { view =>
      shapeResult(jsonDf(spark.sql(substitute(transformQuery, view)))
        .collect().toSeq.map(_.getString(0)))
    }

  private def sparkFilter(p: Payload, filterQuery: String): Boolean =
    withPayloadView(p) { view =>
      filterDf(view, filterQuery).limit(1).collect().nonEmpty
    }

  /** The payload as a temp view: a local relation of its parsed rows, or,
    * for a payload that did not parse to rows (a scalar, malformed JSON),
    * the text read with the cached schema.
    */
  private def withPayloadView[T](p: Payload)(body: String => T): T = {
    val schema = p.shape.schema
    val df = p.rows match {
      case Some(rows) =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        spark.createDataFrame(rows.map(r => toRow(r).asInstanceOf[Row]).asJava,
          schema)
      case None =>
        import spark.implicits._
        spark.read.schema(schema).json(Seq(p.json).toDS())
    }
    val view = tempViewName()
    df.createOrReplaceTempView(view)
    try body(view) finally spark.catalog.dropTempView(view)
  }

  private def filterDf(view: String, filterQuery: String): DataFrame =
    spark.sql(s"SELECT 1 FROM $view WHERE $filterQuery")

  /** One JSON string per result row, `to_json(struct(cols))`; columns are
    * renamed by position first, so duplicate or dotted names keep their
    * place and spelling.
    */
  private def jsonDf(result: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val names = result.columns.toSeq
    val byPos = names.indices.map(i => s"_c$i")
    result.toDF(byPos: _*).select(to_json(struct(
      byPos.zip(names).map { case (p, n) => col(p).as(n) }: _*)))
  }

  /** {{payload}} macro expansion (src/app.py:462) — textual, same as the
    * reference; the substituted text then goes through the full Catalyst
    * analyzer.
    */
  private def substitute(transformQuery: String, view: String): String =
    transformQuery.replace("{{payload}}", view)

  private def tempViewName(): String =
    "payload_" + UUID.randomUUID().toString.replace("-", "_")

  private def shapeResult(rows: Seq[String]): String = rows.length match {
    case 0 => "{}"
    case 1 => rows.head
    case _ => rows.mkString("{\"results\": [", ", ", "]}")
  }

  // ---- the two paths, separately, for tests ----

  /** The compiled path alone: None when the query takes the Spark path;
    * evaluation errors propagate.
    */
  private[graft] def compiledTransform(webhookId: String,
      transformQuery: String, payloadJson: String): Option[String] = {
    val p = parse(webhookId, payloadJson)
    for {
      rows <- p.rows
      stages <- compiled(webhookId, p, transformQuery, filter = false)
    } yield shapeResult(stages.json(rows))
  }

  private[graft] def compiledFilter(webhookId: String, filterQuery: String,
      payloadJson: String): Option[Boolean] = {
    val p = parse(webhookId, payloadJson)
    for {
      rows <- p.rows
      stages <- compiled(webhookId, p, filterQuery, filter = true)
    } yield stages.keep(rows)
  }

  private[graft] def sparkTransform(webhookId: String, transformQuery: String,
      payloadJson: String): String =
    sparkTransform(parse(webhookId, payloadJson), transformQuery)

  private[graft] def sparkFilter(webhookId: String, filterQuery: String,
      payloadJson: String): Boolean =
    sparkFilter(parse(webhookId, payloadJson), filterQuery)

  private[graft] def cachedShapes: Int = shapes.size

  // ---- set-oriented filter gate ----

  /** Set-oriented filter gate for a micro-batch of SAME-WEBHOOK events:
    * one Spark job evaluates the bare condition over all payloads, with
    * the event id as a metadata column; returns the ids that pass.
    * Semantics match per-event applyFilter because the filter contract
    * is a row-wise WHERE condition (src/app.py:524-579).
    */
  def batchFilter(events: Seq[(String, String)],
      filterQuery: String): Set[String] = {
    import spark.implicits._
    if (events.isEmpty) return Set.empty
    batchFilterPlan(events.toDF("__eid", "__json"), filterQuery)
      .collect()
      .map(_.getString(0))
      .toSet
  }

  /** The distributed form of [[batchFilter]]: input is a DataFrame of
    * (`__eid`, `__json`) rows; output is the single-column DataFrame of
    * kept `__eid`s — NO driver collect, so the streaming ingestion path
    * can semi/anti-join it against the batch without ever materializing
    * raw payloads driver-side.
    *
    * Semantics: infer a union schema from the batch's payloads
    * (spark.read.json flattens top-level arrays into rows, so the
    * inferred struct covers array elements too), then parse each payload
    * against it alongside its event id. Array payloads parse as
    * ArrayType(schema) and explode — keep = at least one row matches,
    * exactly the per-event gate. Known edge vs the per-event path: an
    * event MISSING a filtered column reads as null here (filtered out)
    * where the per-event path raises and audits an "Error:" row — only
    * reachable with mixed-shape batches.
    */
  def batchFilterPlan(events: DataFrame, filterQuery: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, explode, expr, from_json, when}
    val schema = spark.read.json(events.select("__json").as[String]).schema
    events
      .select(col("__eid"),
        explode(when(expr("__json RLIKE '^\\\\s*\\\\['"),
          from_json(col("__json"), ArrayType(schema)))
          .otherwise(array(from_json(col("__json"), schema)))).as("__p"))
      .select(col("__eid").as("__graft_eid"), col("__p.*"))
      .where(expr(filterQuery))
      .select(col("__graft_eid").as("__eid"))
      .distinct()
  }
}

object PayloadTransformer {

  /** Bounds of the shape and compiled-plan caches (entries). */
  private val MaxShapes = 1024
  private val MaxPlans = 1024

  /** One payload shape of one webhook: its inferred schema and, when
    * payloads of the shape are an object or an array of objects, the
    * driver-side `from_json` parser.
    */
  private final class Shape(val schema: StructType, val isArray: Boolean,
      val parser: Option[Stages])

  /** One payload: its text, shape, and parsed rows (None when the shape
    * has no parser or the parse failed).
    */
  private final case class Payload(json: String, shape: Shape,
      rows: Option[Seq[InternalRow]])

  private final case class PlanKey(webhookId: String, schema: StructType,
      isArray: Boolean, text: String, filter: Boolean, udfGeneration: Long)

  /** A driver-side stage: a predicate (Left) or a projection (Right). */
  private type Stage = Either[BasePredicate, UnsafeProjection]

  /** A compiled row-wise plan. Its projections reuse their output rows,
    * so callers hold the instance's lock while evaluating.
    */
  private final class Stages(stages: List[Stage]) {
    /** The output row for `in`, or null when a predicate drops it; valid
      * until the next call.
      */
    def apply(in: InternalRow): InternalRow = {
      var row = in
      var rest = stages
      while (row != null && rest.nonEmpty) {
        row = rest.head match {
          case Left(p) => if (p.eval(row)) row else null
          case Right(proj) => proj(row)
        }
        rest = rest.tail
      }
      row
    }

    def keep(rows: Seq[InternalRow]): Boolean =
      synchronized(rows.exists(apply(_) != null))

    /** The first output column (the row's JSON) of every kept row. */
    def json(rows: Seq[InternalRow]): Seq[String] = synchronized {
      rows.flatMap(r => Option(apply(r)).map(_.getUTF8String(0).toString))
    }
  }

  private def attempt[T](body: => T): Option[T] =
    try Some(body) catch { case NonFatal(_) => None }

  /** A map holding at most `max` entries, evicting the least recently
    * used. A value is computed outside the lock; racing computations of
    * one key both complete, and the last one stays.
    */
  private final class Lru[K, V](max: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size() > max
    }
    def getOrElseUpdate(k: K, v: => V): V =
      synchronized(Option(m.get(k))).getOrElse {
        val x = v
        synchronized(m.put(k, x))
        x
      }
    def size: Int = synchronized(m.size())
  }

  /** Cache key of a payload's inferred schema: field names plus JSON
    * token kinds (string, integral number, fractional number, bool,
    * null, object, array), ignoring values. Spark's inference reads
    * nothing else under the default options: an integral number is a
    * long, a fractional one a double, a string a string. Integral numbers
    * of 19 or more digits may infer as decimals of their own precision,
    * so they key on their text. Array elements shaped like the one
    * before are skipped (merging a type with itself changes nothing).
    */
  def shapeKey(json: String): String = new ShapeScan(json).key

  /** Depth past which a payload keys on its full text. */
  private val MaxDepth = 256

  /** One pass over a payload computing [[shapeKey]]. Anything that is
    * not strict JSON (single quotes, NaN, leading zeros, bad escapes,
    * trailing text) keys on the full text, so it never shares a schema
    * with a payload of another shape.
    */
  private final class ShapeScan(s: String) {
    private val out = new java.lang.StringBuilder(32)
    private var i = 0
    /** Top-level array elements are all objects. */
    private var elementsAreObjects = true

    private val ok = value(0) && { ws(); i == s.length }
    val key: String = if (ok) out.toString else "!" + s
    val isArray: Boolean = ok && key.startsWith("[")
    /** The payload is an object or an array of objects. */
    val rowWise: Boolean = ok && (key.startsWith("{") || isArray && elementsAreObjects)

    private def ws(): Unit =
      while (i < s.length && " \t\n\r".indexOf(s.charAt(i)) >= 0) i += 1

    private def value(depth: Int): Boolean = {
      ws()
      if (i >= s.length || depth > MaxDepth) false
      else s.charAt(i) match {
        case '{' => obj(depth)
        case '[' => arr(depth)
        case '"' => out.append('s'); str()
        case 't' => word("true", 'b')
        case 'f' => word("false", 'b')
        case 'n' => word("null", 'n')
        case _ => num()
      }
    }

    private def obj(depth: Int): Boolean = {
      i += 1
      out.append('{')
      ws()
      if (i < s.length && s.charAt(i) == '}') { i += 1; out.append('}'); return true }
      while (true) {
        ws()
        val start = i
        if (i >= s.length || s.charAt(i) != '"' || !str()) return false
        out.append(s, start, i) // the name, quoted, escapes as written
        ws()
        if (i >= s.length || s.charAt(i) != ':') return false
        i += 1
        if (!value(depth + 1)) return false
        ws()
        if (i >= s.length) return false
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; out.append('}'); return true
          case _ => return false
        }
      }
      false
    }

    private def arr(depth: Int): Boolean = {
      i += 1
      out.append('[')
      ws()
      if (i < s.length && s.charAt(i) == ']') { i += 1; out.append(']'); return true }
      var prev = -1
      while (true) {
        ws()
        if (depth == 0 && (i >= s.length || s.charAt(i) != '{'))
          elementsAreObjects = false
        val start = out.length
        if (!value(depth + 1)) return false
        val len = out.length - start
        if (prev >= 0 && len == start - prev &&
          out.substring(prev, start) == out.substring(start)) out.setLength(start)
        else prev = start
        ws()
        if (i >= s.length) return false
        s.charAt(i) match {
          case ',' => i += 1
          case ']' => i += 1; out.append(']'); return true
          case _ => return false
        }
      }
      false
    }

    private def str(): Boolean = {
      i += 1
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return true }
        else if (c == '\\') {
          if (i + 1 >= s.length) return false
          s.charAt(i + 1) match {
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' => i += 2
            case 'u' if i + 5 < s.length &&
                (2 to 5).forall(k => Character.digit(s.charAt(i + k), 16) >= 0) =>
              i += 6
            case _ => return false
          }
        } else if (c < ' ') return false
        else i += 1
      }
      false
    }

    private def word(w: String, kind: Char): Boolean =
      s.startsWith(w, i) && { i += w.length; out.append(kind); true }

    private def digits(): Int = {
      val start = i
      while (i < s.length && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
      i - start
    }

    private def num(): Boolean = {
      val start = i
      if (s.charAt(i) == '-') i += 1
      val intStart = i
      val n = digits()
      if (n == 0 || (n > 1 && s.charAt(intStart) == '0')) return false
      var fractional = false
      if (i < s.length && s.charAt(i) == '.') {
        i += 1
        if (digits() == 0) return false
        fractional = true
      }
      if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
        i += 1
        if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
        if (digits() == 0) return false
        fractional = true
      }
      if (fractional) out.append('f')
      else if (n <= 18) out.append('i')
      else out.append('I').append(s, start, i).append(';')
      true
    }
  }
}
