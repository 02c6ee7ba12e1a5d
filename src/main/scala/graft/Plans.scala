package graft

import java.nio.file.{Files, Paths}


/** Dev tool: dump `explain("formatted")` for every gate query to a
  * markdown file so the physical plans are reviewable
  * (round-1 verdict ask). Usage:
  * sbt "runMain graft.Plans [sfDir] [outFile]" (default outFile:
  * `target/PLANS.md`, git-ignored).
  *
  * Since r14 the dump is also a GATE: every plan runs through
  * [[PlanLint]] at the dump's data scale, so scale-dependent shapes
  * (broadcast falloff past the 10 MB threshold, replica-scale
  * CartesianProducts, re-evaluated shared subtrees) fail the dump
  * loudly instead of hiding in a 27k-line manual read (VERDICT r13
  * item 5). The file is still written on failure — the violations are
  * what you review first.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outFile = args.lift(1).getOrElse("target/PLANS.md")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // lint needs the full static tree; the dump prose already documents
    // that AQE re-plans at runtime from observed sizes
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted), ")
      .append(s"data: $sfDir\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"`. Static plans " +
      "(AQE re-plans at runtime from observed sizes — e.g. sub-threshold " +
      "shuffle joins become broadcast joins). Every plan is PlanLint-" +
      "checked at this data scale; a violating dump exits nonzero.\n")
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    for (d <- SparkEntry.allDefs) {
      val df = d.spark(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## ${d.name}\n\n```\n$plan```\n")
      PlanLint.lintGate(d.name, df).foreach { v =>
        violations += s"${d.name}: $v"
        sb.append(s"\n**PLAN-LINT VIOLATION**: $v\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plans] wrote $outFile")
    violations.foreach(v => println(s"[plans] LINT $v"))
    spark.stop()
    if (violations.nonEmpty) {
      println(s"[plans] FAILED: ${violations.size} plan-lint violations")
      sys.exit(1)
    }
  }
}
