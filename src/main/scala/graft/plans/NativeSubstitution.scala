package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{HexPrefixLong, TokenRunCount, WordRunCount}

/** Optimizer rule substituting the engine's codegen'd native counters
  * for their interpreted SQL spellings, so USER-written SQL gets the
  * same hot path the built-in operators use without knowing the
  * functions exist:
  *
  *  - `size(filter(split(lower(x), ' '), t -> t <> ''))` (either
  *    comparison order, with or without the `lower`) →
  *    `CAST(word_run_count(x) AS INT)`. Value-identical for EVERY
  *    input: splitting on the single space counts maximal non-space
  *    runs, no Unicode case mapping produces or consumes U+0020, and
  *    the count is structurally < 2³⁰ (a UTF8String is < 2³¹ bytes),
  *    so the INT cast cannot wrap. The HOF spelling evaluates an
  *    interpreted lambda per element and materializes the array; the
  *    native form is one byte pass inside whole-stage codegen
  *    (measured ~5× on the q130 mixture pass, PERF_NOTES r9).
  *
  *  - `size(regexp_extract_all(lower(x), '[a-z]+|[0-9]+|[^a-z0-9\s]'))`
  *    (the `regexp_count` replacement tree) →
  *    `CAST(token_run_count(x) AS INT)`, the measured ~9×
  *    regex→run-classifier win (q126, r9). Value-identical for every
  *    input since r11: [[TokenRunCount]] handles the two code points
  *    whose full lowercase involves an ASCII letter (U+212A KELVIN →
  *    `k` joins a letter run; U+0130 İ → `i` + combining U+0307, a
  *    run-joining letter then a run-breaking mark) exactly as
  *    `lower()` + the regex does — property-pinned over a generator
  *    carrying both (NativeExprPropertySpec). Shares `lower()`'s
  *    root-locale assumption (see the [[TokenRunCount]] locale note).
  *
  *  - the portable 8-term hex-prefix arithmetic over an md5 —
  *    `(instr('0123456789abcdef', substr(md5(x), p, 1)) - 1) * 16⁷ +
  *    … + (instr(…, substr(md5(x), p+7, 1)) - 1)` — →
  *    `hex_prefix_long(md5(x), p)`. This is exactly the spelling
  *    [[graft.operators.Dedup.hexToLongSql]] emits for the DuckDB
  *    oracle, so a user porting oracle SQL to Spark carries it
  *    verbatim; the native is one fused byte loop (~6× measured, r9)
  *    and evaluates the md5 ONCE instead of eight times. Restricted to
  *    `Md5` children with start+7 ≤ 32: md5 hex is pure ASCII, where
  *    the native's byte positions coincide with substr's char
  *    positions (an arbitrary string operand could carry multibyte
  *    chars, where they don't — such trees are left alone).
  *
  * The size() substitutions are skipped under `legacySizeOfNull` (where
  * `size(NULL)` is -1, not NULL — the natives propagate NULL).
  * Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions` on a stock
  * session; [[graft.GraftSession.local]] wires it automatically).
  * Runs in the user-provided optimizer batch, i.e. AFTER
  * `RuntimeReplaceable` expansion — so `regexp_count` spellings are
  * already in their `size(regexp_extract_all(...))` form when matched.
  *
  * The rule has no switch of its own: a reference run that needs the
  * interpreted spellings excludes it with Spark's
  * `spark.sql.optimizer.excludedRules=graft.plans.NativeSubstitutionRule`.
  */
object NativeSubstitutionRule extends Rule[LogicalPlan] {

  private val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** `t <> ''` in either order over the lambda's own variable. */
  private def isNonEmptyTest(f: Expression, args: Seq[NamedExpression])
      : Boolean = f match {
    case Not(EqualTo(v: NamedLambdaVariable, Literal(s, _)))
      if s != null && s.toString.isEmpty &&
        args.exists(_.exprId == v.exprId) => true
    case Not(EqualTo(Literal(s, _), v: NamedLambdaVariable))
      if s != null && s.toString.isEmpty &&
        args.exists(_.exprId == v.exprId) => true
    case _ => false
  }

  private def stripLower(e: Expression): Expression = e match {
    case Lower(c) => c
    case other => other
  }

  private val HexAlphabet = "0123456789abcdef"

  /** One hex-digit term of the portable spelling:
    * `cast((instr(alphabet, substr(md5(x), pos, 1)) - 1) as bigint)`
    * optionally times a long weight (the ×1 term arrives bare after
    * constant folding). Returns (md5 operand, 1-based pos, weight).
    */
  private def digitTerm(e: Expression): Option[(Expression, Int, Long)] = {
    def core(c: Expression): Option[(Expression, Int)] = c match {
      case Cast(Subtract(StringInstr(Literal(alpha, _),
            Substring(h: Md5, Literal(pos: Int, IntegerType),
              Literal(1, IntegerType))),
            Literal(1, IntegerType), _), LongType, _, _)
          if alpha != null && alpha.toString == HexAlphabet &&
            h.deterministic =>
        Some((h, pos))
      case _ => None
    }
    e match {
      case Multiply(c, Literal(w: Long, LongType), _) =>
        core(c).map { case (h, p) => (h, p, w) }
      case Multiply(Literal(w: Long, LongType), c, _) =>
        core(c).map { case (h, p) => (h, p, w) }
      case other => core(other).map { case (h, p) => (h, p, 1L) }
    }
  }

  private def flattenAdd(e: Expression): Seq[Expression] = e match {
    case Add(l, r, _) => flattenAdd(l) :+ r
    case other => Seq(other)
  }

  /** The full 8-term chain: consecutive positions, descending 16-power
    * weights, one common md5 operand, start+7 within the 32 hex chars.
    */
  private def rewriteHexSpelling(a: Add): Option[Expression] = {
    val terms = flattenAdd(a)
    if (terms.length != 8) return None
    val digs = terms.map(digitTerm)
    if (digs.exists(_.isEmpty)) return None
    val ds = digs.map(_.get)
    val (h0, p0, _) = ds.head
    val ok = p0 >= 1 && p0 + 7 <= 32 &&
      ds.zipWithIndex.forall { case ((h, p, w), k) =>
        h.semanticEquals(h0) && p == p0 + k && w == (1L << (4 * (7 - k)))
      }
    if (ok) Some(HexPrefixLong(h0, Literal(p0))) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // single evaluation of the 8-term structural match (ADVICE r10:
      // the guard-then-get shape ran it twice per matched Add during
      // fixed-point optimization); returning `a` unchanged is the
      // no-match identity transformDown expects
      case a: Add => rewriteHexSpelling(a).getOrElse(a)
      // size(filter(split(lower(x), ' '), t -> t <> ''))  [lower optional]
      case Size(ArrayFilter(
            StringSplit(str, Literal(sep, _), Literal(-1, IntegerType)),
            LambdaFunction(f, args, _)), false)
          if sep != null && sep.toString == " " &&
            isNonEmptyTest(f, args) =>
        Cast(WordRunCount(stripLower(str)), IntegerType)
      // size(regexp_extract_all(lower(x), BPE_PATTERN[, 0]))
      case Size(RegExpExtractAll(Lower(x), Literal(pat, _),
            Literal(0, IntegerType)), false)
          if pat != null && pat.toString == TokenPattern =>
        Cast(TokenRunCount(x), IntegerType)
    }
}

/** Session-extension entry point: registers
  * [[NativeSubstitutionRule]]. Stock sessions opt in with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => NativeSubstitutionRule)
}
