package graft.engine

import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParseException, JsonToken}
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.io.JsonStringEncoder

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, Expression,
  GenericInternalRow, JoinedRow, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.json.{InferJsonSchema, ParseJsonText}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sample, View}
import org.apache.spark.sql.catalyst.trees.TreePattern.{CURRENT_LIKE, LIMIT,
  OFFSET, PLAN_EXPRESSION, WINDOW_GROUP_LIMIT}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** The event hot path: payload JSON → rows → filter / transform
  * (reference operators P1/P2/P3, src/app.py:434-579).
  *
  * One walk of Jackson's tokenizer keys a payload's shape
  * ([[shapeKey]]). A first-seen shape's schema is inferred on the
  * driver, by the steps `spark.read.json` runs as a job
  * ([[InferJsonSchema]]), and cached per (webhook, shape key) with the
  * shape's record reader ([[ParseJsonText.reader]]), which reads each
  * payload as one record of `spark.read.json` with that schema; both
  * caches are bounded LRUs. Two paths compute the same answer over
  * those rows:
  *  - compiled: over an object or an array of objects, a filter or
  *    transform whose optimized plan is only Project / Filter nodes over
  *    the payload, with deterministic, subquery-free expressions that do
  *    not read the clock, is compiled once per (webhook, payload schema,
  *    query text, UDF-registry generation, reference-table generation)
  *    into predicates plus `UnsafeProjection`s ending in
  *    `to_json(struct(cols))`, and evaluated on the driver: no
  *    Catalyst planning, no temp view, no Spark job per event. An
  *    inner or payload-preserving outer equi-join from those rows to a
  *    side that reads only registered reference tables compiles too:
  *    the reference side runs once at compile time and is indexed by
  *    its join keys in a driver-side hash map (reference tables are
  *    local relations, so that run is a local scan with no Spark job);
  *  - Spark: everything else (scalars, arrays of scalars and malformed
  *    text; other joins, aggregates and limits over the payload, sorts,
  *    windows, generators) and any compiled evaluation that throws runs
  *    as SQL over the rows as a local relation, so every "Error: …"
  *    outcome is the Spark path's own. The filter is `SELECT 1 … WHERE`
  *    with `LIMIT 1`, and rows are shaped with `to_json(struct(...))`;
  *    the optimizer folds such plans over a local relation into the
  *    relation, so even this path launches no job unless the query
  *    reads another relation.
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
      payloadJson: String): String =
    transform(webhookId, parse(webhookId, payloadJson), transformQuery)

  /** Filter gate: bare WHERE-condition over the payload relation;
    * true = keep (src/app.py:524-579). Null / no-match → filtered out.
    */
  def applyFilter(webhookId: String, filterQuery: String,
      payloadJson: String): Boolean =
    keep(webhookId, parse(webhookId, payloadJson), filterQuery)

  /** [[applyFilter]] (when there is a filter) then [[transform]], over
    * one parse of the payload: the shaped JSON, or None when the filter
    * drops the event.
    */
  def filterThenTransform(webhookId: String, filterQuery: Option[String],
      transformQuery: String, payloadJson: String): Option[String] = {
    val p = parse(webhookId, payloadJson)
    if (filterQuery.exists(f => !keep(webhookId, p, f))) None
    else Some(transform(webhookId, p, transformQuery))
  }

  private def transform(webhookId: String, p: Payload,
      transformQuery: String): String =
    compiled(webhookId, p, transformQuery, filter = false)
      .flatMap(s => attempt(shapeResult(s.json(p.rows))))
      .getOrElse(sparkTransform(p, transformQuery))

  private def keep(webhookId: String, p: Payload,
      filterQuery: String): Boolean =
    compiled(webhookId, p, filterQuery, filter = true)
      .flatMap(s => attempt(s.keep(p.rows)))
      .getOrElse(sparkFilter(p, filterQuery))

  // ---- payload shapes ----

  private def parse(webhookId: String, json: String): Payload = {
    val walk = new Walk(json)
    val shape = shapes.getOrElseUpdate(webhookId + "\u0000" + walk.key, {
      val schema = InferJsonSchema(spark, json)
      val corrupt = spark.sessionState.conf.columnNameOfCorruptRecord
      new Shape(schema, walk.rowWise && !schema.fieldNames.contains(corrupt),
        ParseJsonText.reader(spark, schema))
    })
    Payload(shape, shape.read(json))
  }

  // ---- compiled path ----

  private def compiled(webhookId: String, p: Payload, text: String,
      filter: Boolean): Option[Stages] =
    if (!p.shape.rowWise) None
    else {
      // the generations are read before compiling, so a plan built from
      // content replaced meanwhile keys on the generation before the swap
      val key = PlanKey(webhookId, p.shape.schema, text, filter,
        UdfRegistry.generation, ReferenceTables.generation)
      plans.getOrElseUpdate(key, compile(key))
    }

  /** Analyzes and optimizes the query once against an empty placeholder
    * of the schema; None when it is not row-wise or does not analyze.
    */
  private def compile(k: PlanKey): Option[Stages] =
    attempt(withPlaceholder(k.schema) { (view, leaf) =>
      compileRowWise(
        if (k.filter) filterDf(view, k.text)
        else jsonDf(spark.sql(substitute(k.text, view))), leaf)
    }).flatten

  /** Runs `body` with a temp view over an empty relation of `schema`,
    * backed by an RDD rather than a local relation, so the optimizer
    * keeps it as a leaf instead of folding queries over it away.
    */
  private def withPlaceholder[T](schema: StructType)(
      body: (String, RDD[InternalRow]) => T): T = {
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val leaf = df.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.get
    val view = tempViewName()
    df.createOrReplaceTempView(view)
    try body(view, leaf)
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

  /** The payload as a temp view: a local relation of its rows. */
  private def withPayloadView[T](p: Payload)(body: String => T): T = {
    val schema = p.shape.schema
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val df = spark.createDataFrame(
      p.rows.map(r => toRow(r).asInstanceOf[Row]).asJava, schema)
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
    compiled(webhookId, p, transformQuery, filter = false)
      .map(s => shapeResult(s.json(p.rows)))
  }

  private[graft] def compiledFilter(webhookId: String, filterQuery: String,
      payloadJson: String): Option[Boolean] = {
    val p = parse(webhookId, payloadJson)
    compiled(webhookId, p, filterQuery, filter = true).map(_.keep(p.rows))
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

  /** The names [[PayloadTransformer]] gives its per-call payload views. */
  private[engine] val TempViewName =
    "payload_[0-9a-f]{8}(?:_[0-9a-f]{4}){3}_[0-9a-f]{12}".r

  /** Bounds of the shape and compiled-plan caches (entries). */
  private val MaxShapes = 1024
  private val MaxPlans = 1024

  /** One payload shape of one webhook: its inferred schema, whether the
    * compiled path takes it (an object or an array of objects, with no
    * corrupt-record column), and its record reader, which reads a
    * payload's text as one record of `spark.read.json` with the schema.
    * The reader reuses its parser, so reads hold the shape's lock.
    */
  private final class Shape(val schema: StructType, val rowWise: Boolean,
      reader: String => Seq[InternalRow]) {
    def read(json: String): Seq[InternalRow] = synchronized(reader(json))
  }

  private final case class Payload(shape: Shape, rows: Seq[InternalRow])

  private final case class PlanKey(webhookId: String, schema: StructType,
      text: String, filter: Boolean, udfGeneration: Long,
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
    * Names key decoded, then escaped, so two spellings of one name share
    * a key, as they share a schema. Text that is not exactly one strict
    * JSON value keys as "!" plus the whole text, so it never shares a
    * schema with a payload of another shape.
    */
  def shapeKey(json: String): String = new Walk(json).key

  /** Jackson's tokenizer with its default, strict, features. */
  private val Tokens = new JsonFactory()

  /** One walk over a payload's tokens, writing its [[shapeKey]]. [[ok]]
    * says whether the text is exactly one strict JSON value, as Jackson's
    * `readTree` with `FAIL_ON_TRAILING_TOKENS` decides but with no tree:
    * no single quotes, NaN, leading zeros, bad escapes or raw control
    * characters, within Jackson's nesting, number and string length
    * limits, and nothing but whitespace after the value.
    */
  private[engine] final class Walk(json: String) {
    private val out = new java.lang.StringBuilder(32)
    private val p = Tokens.createParser(json)
    private var root: JsonToken = _
    /** Every element of a root array is an object. */
    private var objectElements = true

    val ok: Boolean =
      try {
        root = p.nextToken()
        root != null && { value(root, top = true); p.nextToken() == null }
      } catch { case NonFatal(_) => false }
      finally p.close()

    def key: String = if (ok) out.toString else "!" + json

    /** The payload is an object or an array of objects. */
    def rowWise: Boolean = ok &&
      (root == START_OBJECT || root == START_ARRAY && objectElements)

    /** Reads the value starting at token `t`; a token that cannot start
      * one throws.
      */
    private def value(t: JsonToken, top: Boolean): Unit = t match {
      case START_OBJECT =>
        out.append('{')
        while (p.nextToken() == FIELD_NAME) {
          out.append('"')
          JsonStringEncoder.getInstance.quoteAsString(p.currentName, out)
          out.append('"')
          value(p.nextToken(), top = false)
        }
        out.append('}')
      case START_ARRAY =>
        out.append('[')
        var prev = -1
        var next = p.nextToken()
        while (next != END_ARRAY) {
          if (top && next != START_OBJECT) objectElements = false
          val start = out.length
          value(next, top = false)
          if (prev >= 0 && out.length - start == start - prev &&
            out.substring(prev, start) == out.substring(start)) out.setLength(start)
          else prev = start
          next = p.nextToken()
        }
        out.append(']')
      case VALUE_STRING =>
        p.getTextLength // reads the string, so its length limit applies
        out.append('s')
      case VALUE_NUMBER_INT if p.getTextLength >= 19 =>
        val text = p.getText
        if (text.length - (if (text.startsWith("-")) 1 else 0) <= 18) out.append('i')
        else out.append('I').append(text).append(';')
      case VALUE_NUMBER_INT => out.append('i')
      case VALUE_NUMBER_FLOAT => out.append('f')
      case VALUE_TRUE | VALUE_FALSE => out.append('b')
      case VALUE_NULL => out.append('n')
      case other => throw new JsonParseException(p, s"no value starts at $other")
    }
  }
}
