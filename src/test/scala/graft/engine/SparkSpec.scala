package graft.engine

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** Shared one-per-JVM SparkSession for the suite (local[4] is plenty for
  * per-event fixtures and keeps startup cost out of every test class).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // same extension set as GraftSession.local(), so the whole suite
      // exercises the native-substitution rule
      .withExtensions(new graft.plans.GraftExtensions)
    Tables.sessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val mapper = new ObjectMapper()

  /** Structural JSON equality (field order independent). */
  def jsonEq(a: String, b: String): Boolean =
    mapper.readTree(a) == mapper.readTree(b)

  def jsonGet(json: String, field: String): String =
    mapper.readTree(json).get(field).asText()

  def newEngine(
      deliverFn: (String, String, String) => Delivery.Result =
        Delivery.deliver)
      : WebhookEngine =
    new WebhookEngine(spark,
      Files.createTempDirectory("graft-audit").toString, deliverFn)
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark

  /** The Spark jobs `body` launches, and its result. The listener bus is
    * drained before and after, so jobs of earlier actions are not
    * counted and every job of `body` is.
    */
  def jobsIn[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (jobs.get(), out)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with a counting rule in
    * `spark.experimental.extraOptimizations` and returns its result.
    * `body` is given a function that reads how many optimizer runs so far
    * were over a plan that `scope` accepts: the rule is alone in its
    * batch ("User Provided Optimizers") and changes no plan, so it runs
    * once per optimization. The rule is removed after `body`, but a
    * session cloned meanwhile (a streaming query's) keeps it, so `scope`
    * should accept the test's own plans only.
    */
  def optimizerRunsIn[T](scope: LogicalPlan => Boolean)(
      body: (() => Int) => T): T = {
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val rule = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (scope(plan)) runs.incrementAndGet()
        plan
      }
    }
    val methods = spark.experimental
    methods.extraOptimizations = methods.extraOptimizations :+ rule
    try body(() => runs.get())
    finally methods.extraOptimizations =
      methods.extraOptimizations.filterNot(_ eq rule)
  }

  /** The reference's canonical sample payload (tests/conftest.py:85-98). */
  val samplePayload: String =
    """{"field1": "value1", "field2": "value2",
      | "nested": {"key1": "value1", "key2": 123},
      | "items": [{"id": 1, "name": "Item 1"}, {"id": 2, "name": "Item 2"}]}"""
      .stripMargin
}
