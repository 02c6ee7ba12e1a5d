package graft.engine

import java.security.MessageDigest
import java.time.Instant
import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.api.java.{UDF1, UDF2, UDF3}
import org.apache.spark.sql.types._

/** Runtime-registered scalar UDFs from *source text* (reference P5/P6,
  * src/app.py:673-834): the engine accepts a Scala function definition as
  * a string, compiles it in-process (scala-compiler ships with Spark),
  * and registers it as `udf_<webhookId>_<name>` for use inside transform
  * SQL.
  *
  * Capability contract reproduced from the reference:
  *  - name mangling `udf_<webhook_id with - → _>_<fn>` (src/app.py:713-714);
  *  - return type from the declared annotation, default string
  *    (src/app.py:726-734);
  *  - re-registration overwrites (no connection juggling needed — Spark's
  *    FunctionRegistry replaces in place, src/app.py:745-755);
  *  - invalid source is rejected at registration
  *    (tests/test_reference_and_udf.py:432-444);
  *  - null-in → null-out for reference-shaped str→str functions;
  *  - only source text is durable; functions rehydrate from source, with
  *    a content-hash compile cache so rehydration is free per event
  *    (the reference re-exec's on every event, src/app.py:1148).
  *
  * Scale note: the compiled closure is serialized to executors like any
  * Spark UDF; compilation happens once on the driver per distinct source.
  */
final class UdfRegistry(spark: SparkSession,
    store: Option[JsonStore] = None) {

  private val meta = new TrieMap[String, UdfMeta]() // qualifiedName → meta
  // qnames currently registered in the session FunctionRegistry — makes
  // per-event rehydration a cheap set check, not a recompile/re-persist
  private val sparkRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // rehydrate persisted UDFs from source (the only durable form —
  // matching the reference's python_udfs table, src/app.py:157-167),
  // preserving persisted ids and timestamps so clients keyed on the
  // UDF id survive restarts
  store.foreach(_.load().foreach { n =>
    val code = n.get("function_code").asText()
    val fnName = n.get("function_name").asText()
    parseSignature(code, fnName).foreach { case (paramTypes, ret) =>
      try {
        UdfCompiler.compile(code, fnName)
        val qname = qualifiedName(n.get("webhook_id").asText(), fnName)
        registerWithSpark(qname, paramTypes, ret, code, fnName)
        meta.put(qname, UdfMeta(n.get("id").asText(), n.get("webhook_id").asText(),
          fnName, qname, code,
          Instant.ofEpochMilli(
            n.path("created_at").asLong(0L)),
          Instant.ofEpochMilli(
            n.path("updated_at").asLong(0L))))
        sparkRegistered.add(qname)
      } catch { case _: Throwable => } // unloadable source: skip, keep rest
    }
  })

  private def persist(): Unit = store.foreach { s =>
    s.save(meta.values.toSeq.sortBy(_.qualifiedName).map { m =>
      val n = s.newNode()
      n.put("id", m.id)
      n.put("webhook_id", m.webhookId)
      n.put("function_name", m.functionName)
      n.put("function_code", m.functionCode)
      n.put("created_at", m.createdAt.toEpochMilli)
      n.put("updated_at", m.updatedAt.toEpochMilli)
      n
    })
  }

  def qualifiedName(webhookId: String, functionName: String): String =
    s"udf_${webhookId.replace("-", "_")}_$functionName"

  /** Extract (paramTypes, returnType) from the parsed AST rather than a
    * regex, so default args, tuple/generic param types and multi-line
    * signatures all work. Return type falls back to String (the
    * reference defaults missing annotations to VARCHAR,
    * src/app.py:726-734).
    */
  private def parseSignature(code: String,
      fnName: String): Either[String, (Seq[String], String)] =
    try {
      import scala.reflect.runtime.universe._
      val tree = UdfCompiler.parse(code)
      val defs = (tree match {
        case b: Block => b.stats :+ b.expr
        case single => List(single)
      }).collect { case d: DefDef => d }
      defs.find(_.name.decodedName.toString == fnName) match {
        case None =>
          val found = defs.map(_.name.decodedName.toString)
          Left(if (found.isEmpty)
            s"Function '$fnName' not found in code or invalid syntax"
          else
            s"Function '$fnName' not found in code (found '${found.mkString(", ")}')")
        case Some(d) =>
          val params = d.vparamss.flatten.map(p => p.tpt.toString)
          val ret = d.tpt.toString match {
            case "<type ?>" => "String" // unannotated → VARCHAR default
            case t => t
          }
          Right((params, ret))
      }
    } catch {
      case e: Throwable => Left(s"Invalid function code: ${e.getMessage}")
    }

  /** Compile + register. Returns the SQL-callable qualified name. */
  def register(webhookId: String, functionName: String,
      functionCode: String): Either[String, UdfMeta] = synchronized {
    parseSignature(functionCode, functionName).flatMap { case (paramTypes, ret) =>
      // compile eagerly so invalid source is rejected at registration
      compile(functionCode, functionName).map { _ =>
        val qname = qualifiedName(webhookId, functionName)
        registerWithSpark(qname, paramTypes, ret, functionCode, functionName)
        val now = Instant.now()
        val row = meta.get(qname) match {
          case Some(m) => m.copy(functionCode = functionCode, updatedAt = now)
          case None => UdfMeta(UUID.randomUUID().toString, webhookId,
            functionName, qname, functionCode, now, now)
        }
        meta.put(qname, row)
        sparkRegistered.add(qname)
        persist()
        row
      }
    }
  }

  /** Rehydrate every UDF belonging to a webhook from stored source
    * (reference P6, src/app.py:787-834). Runs on the per-event hot path,
    * so it is a no-op set check for already-registered functions — no
    * re-parse, no persist, no timestamp churn; only functions missing
    * from the session registry (dropped externally) re-register.
    */
  def loadWebhookUdfs(webhookId: String): Seq[UdfMeta] =
    forWebhook(webhookId).map { m =>
      if (!sparkRegistered.contains(m.qualifiedName)) synchronized {
        parseSignature(m.functionCode, m.functionName).foreach {
          case (paramTypes, ret) =>
            registerWithSpark(m.qualifiedName, paramTypes, ret,
              m.functionCode, m.functionName)
            sparkRegistered.add(m.qualifiedName)
        }
      }
      m
    }

  def forWebhook(webhookId: String): Seq[UdfMeta] =
    meta.values.filter(_.webhookId == webhookId).toSeq.sortBy(_.functionName)

  def list(): Seq[UdfMeta] = meta.values.toSeq.sortBy(_.qualifiedName)

  def delete(webhookId: String): Int = synchronized {
    val doomed = forWebhook(webhookId)
    doomed.foreach { m =>
      meta.remove(m.qualifiedName)
      sparkRegistered.remove(m.qualifiedName)
    }
    persist()
    doomed.size
  }

  // ---- compilation / registration plumbing ----

  private def compile(code: String, fnName: String): Either[String, AnyRef] =
    try Right(UdfCompiler.compile(code, fnName))
    catch {
      case e: Throwable => Left(s"Invalid function code: ${e.getMessage}")
    }

  /** Register the serializable source-carrying wrapper with Spark. The
    * wrapper re-compiles lazily per JVM, so on a cluster each executor
    * hydrates the function from source exactly once — nothing but
    * strings crosses the wire (the reference persists only source text
    * too, src/app.py:157-167).
    */
  private def registerWithSpark(qname: String,
      paramTypes: Seq[String], retType: String, code: String,
      fnName: String): Unit = {
    val ret = UdfCompiler.sqlType(retType)
    paramTypes.size match {
      case 1 => spark.udf.register(qname,
        SourceUdf1(code, fnName, paramTypes.head), ret)
      case 2 => spark.udf.register(qname,
        SourceUdf2(code, fnName, paramTypes(0), paramTypes(1)), ret)
      case 3 => spark.udf.register(qname,
        SourceUdf3(code, fnName, paramTypes(0), paramTypes(1), paramTypes(2)),
        ret)
      case n => throw new IllegalArgumentException(
        s"UDFs of arity $n are not supported (1-3)")
    }
    UdfRegistry.generations.incrementAndGet()
    ()
  }
}

object UdfRegistry {
  private val generations = new java.util.concurrent.atomic.AtomicLong()

  /** Bumped by every function registration in this JVM; plans compiled
    * against the function registry key on it, so a re-registered UDF
    * takes effect on the next event.
    */
  def generation: Long = generations.get()
}

/** Process-wide compile cache + conversions. Lives outside any Spark
  * closure so UDF wrappers never capture non-serializable state.
  */
object UdfCompiler {

  private lazy val toolbox = {
    import scala.tools.reflect.ToolBox
    scala.reflect.runtime.currentMirror.mkToolBox()
  }

  private val cache = new TrieMap[String, AnyRef]() // sha → compiled fn

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Parse under the shared ToolBox lock (the ToolBox is not
    * thread-safe, and executor task threads compile lazily under the
    * same lock).
    */
  def parse(code: String): scala.reflect.runtime.universe.Tree =
    synchronized { toolbox.parse(code) }

  /** Compile `code` and return `fnName` as a function object; cached by
    * content hash, synchronized (ToolBox eval is not thread-safe).
    */
  def compile(code: String, fnName: String): AnyRef = {
    val key = sha(code + "#" + fnName)
    cache.getOrElse(key, synchronized {
      cache.getOrElseUpdate(key,
        toolbox.eval(toolbox.parse(s"$code\n$fnName _")).asInstanceOf[AnyRef])
    })
  }

  private val OptionOf = """Option\[(.+)\]""".r

  def sqlType(scalaType: String): DataType = scalaType match {
    case OptionOf(inner) => sqlType(inner) // Option[T] returns map to T
    case "Int" | "Integer" => IntegerType
    case "Long" => LongType
    case "Double" | "Float" => DoubleType
    case "Boolean" => BooleanType
    case _ => StringType // default VARCHAR, matching src/app.py:734
  }

  /** Option results unwrap to value-or-null (the canonical reference
    * UDFs are str → Option[str]-shaped, SURVEY §2.4).
    */
  def unwrap(x: Any): Any = x match {
    case Some(v) => v
    case None => null
    case other => other
  }

  def conv(scalaType: String, x: Any): Any = x match {
    case null => null
    case v => scalaType match {
      case "Int" | "Integer" => v match {
        case i: Int => i
        case l: Long => l.toInt
        case n: Number => n.intValue()
        case s: String => s.toInt
      }
      case "Long" => v match {
        case l: Long => l
        case n: Number => n.longValue()
        case s: String => s.toLong
      }
      case "Double" | "Float" => v match {
        case d: Double => d
        case n: Number => n.doubleValue()
        case s: String => s.toDouble
      }
      case "Boolean" => v match {
        case b: Boolean => b
        case s: String => s.toBoolean
      }
      case _ => v match {
        case s: String => s
        case other => other.toString
      }
    }
  }
}

/** Serializable UDF wrappers: carry source text only; compile lazily per
  * JVM via the process-wide cache. Null handling is null-in/null-out on
  * ANY null argument — matching the reference contract (DuckDB's default
  * null handling skips the user function when any input is NULL,
  * SURVEY §2.4).
  */
final case class SourceUdf1(code: String, fnName: String, p0: String)
    extends UDF1[Any, Any] {
  @transient private lazy val f =
    UdfCompiler.compile(code, fnName).asInstanceOf[Any => Any]
  override def call(a: Any): Any =
    if (a == null) null
    else UdfCompiler.unwrap(f(UdfCompiler.conv(p0, a)))
}

final case class SourceUdf2(code: String, fnName: String, p0: String,
    p1: String) extends UDF2[Any, Any, Any] {
  @transient private lazy val f =
    UdfCompiler.compile(code, fnName).asInstanceOf[(Any, Any) => Any]
  override def call(a: Any, b: Any): Any =
    if (a == null || b == null) null
    else UdfCompiler.unwrap(
      f(UdfCompiler.conv(p0, a), UdfCompiler.conv(p1, b)))
}

final case class SourceUdf3(code: String, fnName: String, p0: String,
    p1: String, p2: String) extends UDF3[Any, Any, Any, Any] {
  @transient private lazy val f =
    UdfCompiler.compile(code, fnName).asInstanceOf[(Any, Any, Any) => Any]
  override def call(a: Any, b: Any, c: Any): Any =
    if (a == null || b == null || c == null) null
    else UdfCompiler.unwrap(f(UdfCompiler.conv(p0, a),
      UdfCompiler.conv(p1, b), UdfCompiler.conv(p2, c)))
}
