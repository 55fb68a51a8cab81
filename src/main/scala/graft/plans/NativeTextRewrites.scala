package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}

import graft.functions.{SigAgreement, WordNgrams}

/** Optimizer rule: rewrite the composed higher-order-function idioms for
  * MinHash signature agreement and word n-gram enumeration into the native
  * codegen'd expressions ([[graft.functions.SigAgreement]],
  * [[graft.functions.WordNgrams]]).
  *
  * Why a Rule and not just better call sites: Spark's HOF lambdas
  * (`zip_with`/`filter`/`transform`) CodegenFallback to interpreted
  * per-element evaluation — measured ~10× slower per corpus scan than the
  * generated loops (round 8; TextNgramExpressionsSpec pins the
  * bit-equivalence). The graft operators already call the native forms
  * directly; this rule extends the same cliff-protection to SQL a USER
  * writes against the session (migrated views, ad-hoc notebook queries),
  * which never sees the operator helpers. Both rewrites fire only on
  * exact, semantics-proven shapes:
  *
  *  1. `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))` with both
  *     sides `array<bigint>` → `sig_agree(a, b)` — same equal-slot count,
  *     same NULL-in → NULL-out.
  *  2. `transform(sequence(0, greatest(size(split(t, ' ')) - k, 0)),
  *     i -> concat_ws(' ', slice(split(t, ' '), i + 1, k)))` →
  *     `word_ngrams(t, k)` — the canonical k-gram enumeration including
  *     its truncated-window edge case.
  *
  * Installed with the rest of [[GraftExtensions.rules]], together with
  * the graft function registry, so the rewritten plans resolve in sessions
  * that never touched the Scala API.
  */
object NativeTextRewrites extends Rule[LogicalPlan] {

  private def isSpaceSplit(e: Expression): Option[Expression] = e match {
    case StringSplit(text, Literal(p, StringType), Literal(-1, IntegerType))
        if p != null && p.toString == " " => Some(text)
    case _ => None
  }

  private object EqLambda {
    /** Matches `(x, y) -> x = y` over the lambda's own two variables. */
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(EqualTo(x: NamedLambdaVariable, y: NamedLambdaVariable),
          Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
        x.exprId == a.exprId && y.exprId == b.exprId
      case _ => false
    }
  }

  private object IdentityLambda {
    /** Matches `v -> v`. */
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
        v.exprId == a.exprId
      case _ => false
    }
  }

  private def longArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) → sig_agree
    case Size(ArrayFilter(ZipWith(a, b, f), g), _)
        if EqLambda.unapply(f) && IdentityLambda.unapply(g) &&
          longArray(a) && longArray(b) =>
      SigAgreement(a, b)

    // transform(sequence(0, greatest(size(split(t,' ')) - k, 0)),
    //   i -> concat_ws(' ', slice(split(t,' '), i + 1, k))) → word_ngrams
    case ArrayTransform(
        Sequence(
          Literal(0, _),
          Greatest(Seq(Subtract(Size(s1, _), Literal(k: Int, IntegerType), _),
            Literal(0, _))),
          None, _),
        LambdaFunction(
          ConcatWs(Seq(Literal(sep, StringType),
            Slice(s2, Add(i1: NamedLambdaVariable, Literal(1, IntegerType), _),
              Literal(k2: Int, IntegerType)))),
          Seq(i2: NamedLambdaVariable), _))
        if sep != null && sep.toString == " " && k == k2 &&
          i1.exprId == i2.exprId && s1.semanticEquals(s2) &&
          isSpaceSplit(s1).isDefined =>
      WordNgrams(isSpaceSplit(s1).get, k)
  }
}
