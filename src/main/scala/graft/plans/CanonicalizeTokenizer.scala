package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule (Catalyst `Rule[LogicalPlan]`, SURVEY §7.5 route (c)):
  * rewrites the idiomatic composed tokenizer pipeline
  *
  * {{{ filter(transform(split(text, "\\s+"), t => lower(regexp_replace(t, "[^A-Za-z]", ""))), w => w != "") }}}
  *
  * to the native single-pass [[TextNormExprs.NormalizedWordsExpr]]. A
  * user writing the reference normalization with plain built-ins gets
  * the byte-scan fast path automatically — same contract as any
  * Catalyst rewrite (results are byte-identical; NormalizerPropertySpec
  * holds the equivalence proof, CanonicalizeTokenizerSpec pins the
  * rewrite firing and the end-to-end equality).
  *
  * Matching is deliberately exact (that regex, that replacement, that
  * empty-string filter, lambda variables properly bound) — anything
  * else is left untouched. That includes the lower-first spelling
  * `regexp_replace(lower(t), "[^a-z]", "")`, which is not equivalent:
  * `lower` maps some non-ASCII code points (U+212A KELVIN SIGN) to
  * ASCII letters that the strip then keeps.
  */
object CanonicalizeTokenizer extends Rule[LogicalPlan] {

  private def isStr(e: Expression, s: String): Boolean = e match {
    case Literal(v: UTF8String, StringType) => v.toString == s
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayFilter(
          ArrayTransform(
            StringSplit(text, sep, Literal(-1, IntegerType)),
            LambdaFunction(
              Lower(RegExpReplace(tv: NamedLambdaVariable, re, rep, Literal(1, IntegerType))),
              Seq(tArg: NamedLambdaVariable), _)),
          LambdaFunction(
            Not(EqualTo(fv: NamedLambdaVariable, emptyLit)),
            Seq(fArg: NamedLambdaVariable), _))
        if isStr(sep, "\\s+") && isStr(re, "[^A-Za-z]") && isStr(rep, "") &&
          isStr(emptyLit, "") && tv.exprId == tArg.exprId && fv.exprId == fArg.exprId =>
      TextNormExprs.NormalizedWordsExpr(text)
  }
}
