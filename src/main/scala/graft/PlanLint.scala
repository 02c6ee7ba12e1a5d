package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Expression, IsNotNull, IsNull, NamedExpression, Not, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.joins.{CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Static plan lint shared by PlanLintSpec (every `sbt test`, sf0.001)
  * and the plan-dump main Plans (replica scale, so shapes
  * that only appear past the broadcast thresholds fail the dump loudly
  * instead of needing a manual read — VERDICT r13 items 1 and 5). The
  * four rules are the anti-patterns every scale review checked by hand:
  *
  *  1. no `CartesianProductExec` with a CORPUS side — a cross join is
  *     quadratic in whatever feeds it, so any side with a fact scan not
  *     collapsed by an aggregate (or decoupled by a cached relation) is
  *     a scale defect. Value-domain-sized cartesians ABOVE aggregates
  *     (the q91 centroid-pair / q198 type-pair shape) are benign by
  *     construction and pass — this is the scale-aware refinement the
  *     r13 verdict asked for (the blanket rule only held at sf0.001
  *     where those two plans broadcast instead).
  *  2. no shuffle join (SMJ/SHJ) whose build or probe subtree reads
  *     ONLY fixed-size dimension tables (region/nation) — those must
  *     broadcast; shuffling a 25-row dim means the OTHER side's
  *     corpus-sized exchange was spent to meet it.
  *  3. no globally-ordered Window (empty partitionSpec) fed by a fact
  *     scan with no aggregate in between — a single-partition sort of
  *     the corpus. Windows above an aggregate are fine (the
  *     powerUserShare/q154 pattern: |distinct values|-sized).
  *  4. no re-evaluated shared collapsed subtree: two structurally
  *     identical aggregates (same grouping, same child modulo
  *     join-pushed IsNotNull filters) over the same fact source in one
  *     plan mean a frame built once in code is being computed twice at
  *     runtime — the q164/q193/q194/q195/q198 defect (recurred four
  *     times in r13; the q194 persist alone flipped 1.6× to an 0.18×
  *     win). The remedy is `trackedPersist()` on the collapsed frame.
  *     Detection is on the optimized LOGICAL plan (persisted copies
  *     collapse to InMemoryRelation leaves and vanish), CONFIRMED on
  *     the physical plan (exchange reuse can legitimately absorb
  *     bit-identical copies — those don't re-evaluate and must pass).
  */
object PlanLint extends PredicateHelper {
  val dimTables = Set("region", "nation")
  val factTables = Set("lineitem", "orders", "customer", "part",
    "supplier", "events", "documents", "embeddings")

  /** Gates allowed to keep an intentional duplicate-collapse (rule 4),
    * each with the measured/argued reason. A whitelisted gate that
    * STOPS firing should be removed from here (the spec asserts both
    * directions so stale entries surface).
    *
    * All nine entries are the shingle/char-gram pipeline family whose
    * duplicated collapse is the CORPUS-SIZED exploded (doc, shingle)
    * frame: persisting it was A/B-measured neutral-to-WORSE at the 50×
    * replica (PERF_NOTES r11 "Negative result: shingle-frame persist
    * in nearDupPairs" — re-tokenization rides the OS page cache;
    * materializing ~67 M exploded rows costs more than it saves). At
    * real scale the remedy is materializing the shingle table ONCE as
    * a table shared across all dedup passes, not a per-query persist
    * (the repo ships no such layout: every gate reads plain parquet).
    * The small side tables in the same pipelines (minhash signatures,
    * per-doc shingle counts) were A/B-measured separately in r14 — see
    * PERF_NOTES r14.
    */
  val sharedSubtreeWhitelist: Map[String, String] = Map(
    "q51_chargram_jaccard" -> "corpus-sized char-gram explode; r11 negative result",
    "q68_containment" -> "corpus-sized shingle explode; r11 negative result",
    // q70_source_overlap was REMOVED here in r15: under per-group
    // physical confirmation its duplicate per-source collapses turn
    // out to be reuse-absorbed (one partial/final chain in the
    // executed plan) — the old whole-plan scan count was counting the
    // unrelated (doc_id, shingle) chain's scan, i.e. the r14 ADVICE
    // false positive, so there was never a re-evaluation to whitelist.
    "q77_incremental_dedup" -> "corpus-sized shingle explode; r11 negative result",
    "q80_split_contamination" -> "corpus-sized shingle explode; r11 negative result",
    "q111_incremental_match" -> "corpus-sized shingle explode; r11 negative result",
    "q141_source_neardup_matrix" -> "corpus-sized shingle explode + arithmetic expansion legs; r11 negative result",
    "q143_split_leakage" -> "corpus-sized shingle explode + arithmetic expansion legs; r11 negative result",
    "q145_dup_threshold_sweep" -> "corpus-sized shingle explode re-entered per threshold; r11 negative result")

  private def tableOf(scan: FileSourceScanExec): Option[String] = {
    val paths = scan.relation.location.rootPaths.map(_.toString.toLowerCase)
    (dimTables ++ factTables).find(t => paths.exists(_.contains(t)))
  }

  private def tableOfRel(rel: LogicalRelation): Option[String] = {
    val paths = rel.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString.toLowerCase)
      case _ => Nil
    }
    factTables.find(t => paths.exists(_.contains(t)))
  }

  /** All source tables read anywhere in the physical subtree. */
  def scans(p: SparkPlan): Seq[String] =
    p.collect { case f: FileSourceScanExec => tableOf(f) }.flatten

  /** Fact scans reachable WITHOUT passing through an aggregate or a
    * cached relation (both collapse/decouple cardinality).
    */
  def unaggregatedFactScans(p: SparkPlan): Seq[String] = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
        _: SortAggregateExec | _: InMemoryTableScanExec => Nil
    case f: FileSourceScanExec => tableOf(f).filter(factTables).toSeq
    case other => other.children.flatMap(unaggregatedFactScans)
  }

  // --- rule 4 machinery -------------------------------------------------

  /** Fact tables read by LogicalRelations in the logical subtree. */
  private def factRels(p: LogicalPlan): Seq[String] =
    p.collect { case r: LogicalRelation => tableOfRel(r) }.flatten

  /** Join pushdown decorates one copy of a shared subtree with
    * IsNotNull guards the other copy lacks — strip them so the two
    * copies canonicalize identically (exactly the asymmetry that also
    * defeats Spark's own exchange reuse and makes the double scan
    * real).
    */
  private def stripNullGuards(p: LogicalPlan): LogicalPlan = p.transformUp {
    case Filter(cond, child) =>
      val kept = splitConjunctivePredicates(cond).filterNot {
        case _: IsNotNull => true
        case Not(_: IsNull) => true
        case _ => false
      }
      kept.reduceOption(And).map(Filter(_, child)).getOrElse(child)
  }

  /** Signature of "the collapse this aggregate performs": grouping keys
    * over the normalized child, ignoring WHICH aggregate functions are
    * computed (column pruning legally narrows one copy's output — the
    * shuffle+scan underneath is still paid twice).
    */
  private def aggSignature(a: Aggregate): LogicalPlan = {
    val out: Seq[NamedExpression] = a.groupingExpressions.map {
      case ne: NamedExpression => ne
      case e: Expression => Alias(e, "k")()
    }
    Aggregate(a.groupingExpressions, out, stripNullGuards(a.child))
      .canonicalized
  }

  /** One rule-4 finding, keeping the duplicated collapse's fact-table
    * set structured so [[lintGate]] can scope whitelist suppression to
    * the justified shape instead of blanket-dropping the rule.
    */
  final case class SharedSubtree(tables: Seq[String], message: String)

  /** ExprId-free comparable form of a grouping-key list: plain
    * attribute NAMES (they survive logical→physical planning; exprIds
    * and canonicalized ordinals do not compare across the two trees),
    * with complex grouping expressions collapsed to a placeholder on
    * BOTH sides — the physical planner pre-projects them into
    * synthesized `_groupingexpression` attributes, so the inline
    * logical expression and the synthesized physical attribute must
    * compare equal.
    */
  private def groupingSig(exprs: Seq[Expression]): Seq[String] =
    exprs.map {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if !a.name.startsWith("_groupingexpression") => a.name
      case _ => "<expr>"
    }.sorted

  def sharedSubtreeFindings(df: DataFrame): Seq[SharedSubtree] = {
    val qe = df.queryExecution
    val aggs = qe.optimizedPlan.collect {
      case a: Aggregate if factRels(a).nonEmpty => a
    }
    val dupGroups = aggs.groupBy(aggSignature).values.filter(_.size >= 2)
    if (dupGroups.isEmpty) return Nil
    // Physical confirmation, PER GROUP (r14 ADVICE): a genuinely
    // re-evaluated duplicate contributes one physical evaluation CHAIN
    // per copy, while a copy absorbed by ReuseExchange hides behind a
    // ReusedExchangeExec leaf and contributes none. The previous
    // whole-plan per-table scan count false-fired when an UNRELATED
    // aggregate independently scanned the same table next to an
    // absorbed group (measured real in q70_source_overlap: its
    // duplicate per-source collapses ARE reuse-absorbed, and the old
    // confirmation was counting the other collapse chain's scan).
    // Chains are counted as BOTTOM-MOST matching aggregate nodes —
    // match = same grouping signature + the group's fact tables in the
    // subtree — so a partial/final (or distinct multi-stage) stack
    // collapses to one evaluation.
    val physAggs: Seq[(Seq[String], SparkPlan)] = qe.executedPlan.collect {
      case a: HashAggregateExec =>
        (groupingSig(a.groupingExpressions), a: SparkPlan)
      case a: ObjectHashAggregateExec =>
        (groupingSig(a.groupingExpressions), a: SparkPlan)
      case a: SortAggregateExec =>
        (groupingSig(a.groupingExpressions), a: SparkPlan)
    }
    dupGroups.toSeq.flatMap { g =>
      val ts = g.flatMap(factRels).distinct.sorted
      val sig = groupingSig(g.head.groupingExpressions)
      // Chain match = same grouping signature + the chain's FACT scan
      // set EQUAL to the dup group's table set (r15 ADVICE: overlap
      // alone let an unrelated aggregate grouping by the same column
      // names over a superset/subset of tables count as a second
      // evaluation chain). Residual heuristic gap, accepted: two
      // DIFFERENTLY-FILTERED collapses with identical grouping names
      // over the identical fact-table set still conflate — names and
      // scan identities are all that survive logical→physical
      // comparison; canonicalized exprIds don't. The whitelist +
      // per-gate spec pins bound the blast radius of that residue.
      def matches(n: (Seq[String], SparkPlan)): Boolean =
        n._1 == sig &&
          scans(n._2).filter(factTables).distinct.sorted == ts
      val evals = physAggs.count { n =>
        matches(n) &&
          n._2.children.forall(c => !physAggs.exists(m =>
            matches(m) && c.exists(_ eq m._2)))
      }
      if (evals >= 2)
        Seq(SharedSubtree(ts,
          s"shared collapsed subtree over ${ts.mkString(",")} " +
            s"evaluated ${g.size}x (grouping ${g.head.groupingExpressions
              .map(_.sql).mkString(",")}) — trackedPersist the frame " +
            "(the q194 rule)"))
      else Nil
    }.distinct
  }

  def sharedSubtreeViolations(df: DataFrame): Seq[String] =
    sharedSubtreeFindings(df).map(_.message)

  // --- the four rules over one frame -------------------------------------

  def lint(df: DataFrame): Seq[String] =
    structuralViolations(df) ++ sharedSubtreeViolations(df)

  /** Rules 1–3 (cartesian, dim shuffle join, unpartitioned window). */
  def structuralViolations(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan
    val cartesian = plan.collect {
      case c: CartesianProductExec =>
        c.children.flatMap(unaggregatedFactScans).distinct.sorted match {
          case Nil => Nil // value-domain-sized sides above aggregates
          case ts => Seq(s"CartesianProduct with un-collapsed corpus side " +
            ts.mkString(","))
        }
    }.flatten
    val dimShuffleJoins = plan.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }.flatMap { j =>
      j.children.flatMap { side =>
        val ts = scans(side)
        if (ts.nonEmpty && ts.forall(dimTables))
          Seq(s"shuffle join against dim-only side ${ts.distinct.sorted
            .mkString(",")} (should broadcast)")
        else Nil
      }
    }
    val globalWindows = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        unaggregatedFactScans(w.child).distinct.sorted match {
          case Nil => Nil
          case ts => Seq(s"unpartitioned Window over fact scan ${ts
            .mkString(",")}")
        }
    }.flatten
    cartesian ++ dimShuffleJoins ++ globalWindows
  }

  /** Lint one gate, honoring the rule-4 whitelist. Suppression is
    * scoped to the justified shape (r14 ADVICE): every whitelist entry
    * is a corpus-sized shingle/char-gram explode of the DOCUMENTS
    * table (the r11 measured negative result), so only rule-4 findings
    * whose fact-table set is exactly {documents} are dropped — a new,
    * unrelated shared-subtree regression over any other fact table in
    * a whitelisted gate still fails. Returns remaining violations.
    */
  def lintGate(name: String, df: DataFrame): Seq[String] = {
    val shared = sharedSubtreeFindings(df)
    val kept =
      if (sharedSubtreeWhitelist.contains(name))
        shared.filterNot(_.tables == Seq("documents"))
      else shared
    structuralViolations(df) ++ kept.map(_.message)
  }
}
