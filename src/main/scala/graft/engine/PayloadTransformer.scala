package graft.engine

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, Expression,
  GenericInternalRow, JoinedRow, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.json.InferJsonSchema
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sample, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.{CURRENT_LIKE, LIMIT,
  OFFSET, PLAN_EXPRESSION, WINDOW_GROUP_LIMIT}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
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
  *    UDF-registry generation, reference-table generation) into
  *    predicates plus `UnsafeProjection`s ending in
  *    `to_json(struct(cols))`, and evaluated on the driver over rows
  *    parsed by a `from_json` projection compiled once per schema: no
  *    Catalyst planning, no temp view, no Spark job per event. An
  *    inner or payload-preserving outer equi-join from those rows to a
  *    side that reads only registered reference tables compiles too:
  *    the reference side runs once at compile time and is indexed by
  *    its join keys in a driver-side hash map (reference tables are
  *    local relations, so that run is a local scan with no Spark job);
  *  - Spark: everything else (other joins, aggregates and limits over
  *    the payload, sorts, windows, generators) and any compiled
  *    evaluation that throws runs as SQL
  *    over the parsed rows as a local relation, so every "Error: …"
  *    outcome is the Spark path's own. The filter is `SELECT 1 … WHERE`
  *    with `LIMIT 1`, and rows are shaped with `to_json(struct(...))`;
  *    the optimizer folds such plans over a local relation into the
  *    relation, so even this path launches no job unless the query
  *    reads another relation.
  *
  * A first-seen payload shape's schema is inferred on the driver, by
  * the steps `spark.read.json` runs as a job ([[InferJsonSchema]]), and
  * cached per (webhook, [[shapeKey]]), so steady-state events skip
  * schema inference; both caches are bounded LRUs.
  */
final class PayloadTransformer(spark: SparkSession,
    isReferenceTable: String => Boolean = _ => false) {
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
    val schema = InferJsonSchema(spark, json)
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
      parser(InternalRow(UTF8String.fromString(json))).head.copy()
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
    // the generations are read before compiling, so a plan built from
    // content replaced meanwhile keys on the generation before the swap
    val key = PlanKey(webhookId, p.shape.schema, p.shape.isArray, text,
      filter, UdfRegistry.generation, ReferenceTables.generation)
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
    * Filter nodes and reference-table joins (see [[lookup]]) over
    * `leaf`, with deterministic expressions, and its analyzed plan reads
    * only `leaf` and registered reference tables, holds no subquery and
    * no current-time expression (the optimizer folds `now()` into a
    * literal that a cached plan would keep).
    */
  private def compileRowWise(df: DataFrame,
      leaf: RDD[InternalRow]): Option[Stages] = {
    def isLeaf(p: LogicalPlan) = p match {
      case r: LogicalRDD => r.rdd eq leaf
      case _ => false
    }
    def readsOnlyLeafAndReferences(p: LogicalPlan): Boolean = p match {
      case v: View if isReferenceTable(v.desc.identifier.table) => true
      case l if l.children.isEmpty => isLeaf(l)
      case _ => p.children.forall(readsOnlyLeafAndReferences)
    }
    def stages(p: LogicalPlan): Option[List[Stage]] = p match {
      case l if isLeaf(l) => Some(Nil)
      case Project(list, child) if list.forall(_.deterministic) =>
        stages(child).map(new Select(UnsafeProjection.create(list, child.output)) :: _)
      case Filter(cond, child) if cond.deterministic =>
        stages(child).map(new Where(Predicate.create(cond, child.output)) :: _)
      case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, residual, _,
          left, right, _) =>
        val probeLeft = left.exists(isLeaf)
        val outer = joinType match {
          case Inner => Some(false)
          case LeftOuter if probeLeft => Some(true)
          case RightOuter if !probeLeft => Some(true)
          case _ => None
        }
        val (probe, probeKeys, build, buildKeys) =
          if (probeLeft) (left, leftKeys, right, rightKeys)
          else (right, rightKeys, left, leftKeys)
        for {
          o <- outer
          if !build.exists(isLeaf) && isReferenceSide(build)
          s <- stages(probe)
        } yield lookup(probe, probeKeys, build, buildKeys,
          residual.map(Predicate.create(_, left.output ++ right.output)),
          probeLeft, o) :: s
      case _ => None
    }
    val qe = df.queryExecution
    // row caps are looked for before optimization too: over a reference
    // table's local relation the optimizer folds them into the relation
    if (!readsOnlyLeafAndReferences(qe.analyzed) ||
      qe.analyzed.containsAnyPattern(CURRENT_LIKE, PLAN_EXPRESSION, LIMIT,
        OFFSET)) None
    else stages(qe.optimizedPlan).map(s => new Stages(s.reverse))
  }

  /** A join side that can be computed once: deterministic, with no row
    * cap or sample (which rows those keep is not fixed by the data).
    */
  private def isReferenceSide(build: LogicalPlan): Boolean =
    build.deterministic &&
      !build.containsAnyPattern(LIMIT, OFFSET, WINDOW_GROUP_LIMIT) &&
      !build.exists(_.isInstanceOf[Sample])

  /** Runs `build` once and indexes its rows by `buildKeys`; probe rows
    * look up `probeKeys`. The caller has checked that `build` reads only
    * reference tables, so its rows change only with
    * [[ReferenceTables.generation]], which the plan's key holds. Those
    * tables are local relations, and the optimizer folds filters and
    * projections over them into the relation, so the collect is a local
    * scan that launches no Spark job.
    */
  private def lookup(probe: LogicalPlan, probeKeys: Seq[Expression],
      build: LogicalPlan, buildKeys: Seq[Expression],
      residual: Option[BasePredicate], probeLeft: Boolean,
      outer: Boolean): Lookup = {
    val qe = spark.sessionState.executePlan(build)
    val rows = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    val buildKey = UnsafeProjection.create(buildKeys, build.output)
    val table = rows.toSeq.map(r => buildKey(r).copy() -> r)
      .filterNot(_._1.anyNull) // as a hash join: a null key matches nothing
      .groupMap(_._1)(_._2)
    new Lookup(UnsafeProjection.create(probeKeys, probe.output), table,
      residual, probeLeft, outer, build.output.length)
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
      isArray: Boolean, text: String, filter: Boolean, udfGeneration: Long,
      referenceGeneration: Long)

  /** A driver-side stage: the output rows of its input rows. */
  private sealed trait Stage {
    def apply(rows: Seq[InternalRow]): Seq[InternalRow]
  }

  private final class Where(p: BasePredicate) extends Stage {
    p.initialize(0)
    def apply(rows: Seq[InternalRow]): Seq[InternalRow] = rows.filter(p.eval)
  }

  /** The projection reuses one output row, so it copies its outputs when
    * it has several.
    */
  private final class Select(proj: UnsafeProjection) extends Stage {
    proj.initialize(0)
    def apply(rows: Seq[InternalRow]): Seq[InternalRow] =
      if (rows.lengthCompare(1) > 0) rows.map(proj(_).copy())
      else rows.map(proj(_))
  }

  /** An equi-join of probe rows to a build side held as rows by join
    * key; an outer lookup pads a probe row with no match with nulls.
    * Matching follows Spark's hash join: a null probe key matches
    * nothing, and the residual condition filters matches before padding.
    */
  private final class Lookup(probeKey: UnsafeProjection,
      table: Map[UnsafeRow, Seq[InternalRow]], residual: Option[BasePredicate],
      probeLeft: Boolean, outer: Boolean, buildWidth: Int) extends Stage {
    probeKey.initialize(0)
    residual.foreach(_.initialize(0))
    private val nulls = new GenericInternalRow(buildWidth)

    def apply(rows: Seq[InternalRow]): Seq[InternalRow] = rows.flatMap { row =>
      val key = probeKey(row)
      val matches = (if (key.anyNull) Nil else table.getOrElse(key, Nil))
        .map(join(row, _)).filter(j => residual.forall(_.eval(j)))
      if (matches.isEmpty && outer) Seq(join(row, nulls)) else matches
    }

    private def join(probe: InternalRow, build: InternalRow): InternalRow =
      if (probeLeft) new JoinedRow(probe, build) else new JoinedRow(build, probe)
  }

  /** A compiled plan. Its projections reuse their output rows, so
    * callers hold the instance's lock while evaluating.
    */
  private final class Stages(stages: List[Stage]) {
    /** The output rows for `in`; valid until the next call. */
    def apply(in: InternalRow): Seq[InternalRow] =
      stages.foldLeft(Seq(in))((rows, s) => s(rows))

    def keep(rows: Seq[InternalRow]): Boolean =
      synchronized(rows.exists(apply(_).nonEmpty))

    /** The first output column (the row's JSON) of every output row. */
    def json(rows: Seq[InternalRow]): Seq[String] = synchronized {
      rows.flatMap(r => apply(r).map(_.getUTF8String(0).toString))
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
