package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit md5 hash: `h60(s)` = first 15 hex chars of md5(s) as a
  * BIGINT — the engine's cross-engine determinism primitive
  * ([[graft.Hashing]]), as ONE codegen'd expression.
  *
  * Why (SURVEY.md §2.10 preference order): the column-API formulation
  * `conv(substring(md5(s), 1, 15), 16, 10) CAST long` allocates a 32-char
  * hex string, a substring, conv's base-10 STRING, and a cast parse — per
  * call — and h60 runs on the hot path of the sampling/scoring family
  * (epoch scores are ~1.4 G calls at the 100× probe, the scalable sampler
  * ~0.5 G). This expression digests the UTF-8 bytes and masks the first
  * 60 bits directly (the exact [[graft.Hashing.h60Jvm]] logic, whose
  * parity with the SQL chain is proven by every sampler oracle), staying
  * inside whole-stage codegen with zero string round-trips.
  *
  * Value contract: bit-identical to the replaced chain AND to DuckDB's
  * `CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)` — [[FunctionsSpec]]
  * proves equality against the SQL chain on randomized inputs.
  */
case class H60Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_h60 requires a STRING argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_h60"

  override def nullSafeEval(input: Any): Any =
    H60Expr.hash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.H60Expr.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): H60Expr =
    copy(child = newChild)
}

object H60Expr {
  private val tlMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(bytes of s) as a non-negative long — called
    * from generated code; must stay a cheap static entry point.
    */
  def hash(s: UTF8String): Long =
    graft.Hashing.first60(tlMd.get().digest(s.getBytes))

  val identifier: FunctionIdentifier = FunctionIdentifier("graft_h60")
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[H60Expr].getName, "graft_h60")
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, "graft_h60 takes exactly 1 argument")
    H60Expr(children.head)
  }

  /** Idempotent registration into an existing session. */
  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(identifier, info, builder)
}
