package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for the reference's whitespace normalization
 * (utils.py:36-51): each whitespace run → "\n" if it contains CR/LF else
 * " ". A `regexp_replace` cannot express the conditional replacement in
 * one pass, and a Scala UDF would break whole-stage codegen — this stays
 * inside the generated code (SURVEY.md §2 custom-operator preference (b)).
 */
case class NormalizeWs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize_ws requires a string argument, got ${child.dataType.sql}")
  override def nullSafeEval(input: Any): Any =
    NormalizeWs.normalize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NormalizeWs.normalize($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeWs =
    copy(child = newChild)
  override def prettyName: String = "graft_normalize_ws"
}

object NormalizeWs {
  /** Static entry the generated code calls. */
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.html.PyText.normalizeWhitespace(s.toString))
}

/**
 * Session extensions — enable with
 * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_normalize_ws"),
      new ExpressionInfo(classOf[NormalizeWs].getName, "graft_normalize_ws"),
      (children: Seq[Expression]) => NormalizeWs(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "graft_text_stats"),
      (children: Seq[Expression]) => TextStats(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) => {
        // graft_minhash_sig(hashes, k): k must be a literal int — the
        // affine constants are derived deterministically from it
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash_sig: k must be an integer literal, got $other")
        }
        val params = graft.pipeline.Dedup.hashParams(k)
        MinHashSig(children.head,
          params.map(_._1).toIndexedSeq, params.map(_._2).toIndexedSeq)
      }))
    ext.injectPlannerStrategy(_ => ExtractStrategy)
  }
}
