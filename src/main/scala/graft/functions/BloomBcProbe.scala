package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom probe over a BROADCAST filter — the shipping shape of
  * the r9 Scala UDF with the execution shape of a native expression.
  *
  * Measured motivation (SCALING.md r10): the first native attempt
  * embedded the serialized filter as a binary literal (the shape of
  * Spark's own injected runtime filters). At the 30× probe the filter is
  * ~8 MB, and a literal that size rides the per-stage task binary —
  * every task deserializes it, and every plan transform hashes it:
  * 9.1s warm vs the interpreted UDF's 4.3s. This is exactly why Spark
  * caps its injected filters at `runtime.bloomFilter.maxNumBits` (8 MB).
  * A Broadcast ships once per executor and the expression's references
  * array carries only the stub — while `mightContainLong` compiles into
  * the scan's WholeStageCodegen span (no per-row boxing, no
  * ScalaUDF interpreter).
  *
  * Construction: the filter is a RUNTIME object, so the function-registry
  * builder cannot receive it directly; [[BloomBcProbe.column]] passes the
  * broadcast's id as a literal and the builder rehydrates the live
  * broadcast from [[graft.Memo]]'s object entries at analysis time
  * (analysis runs on the driver; executors only ever see the serialized
  * expression, which carries the broadcast handle itself).
  */
case class BloomBcMightContain(bcId: Long,
    bc: Broadcast[BloomFilter], child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_probe requires a BIGINT argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def nullSafeEval(input: Any): Any =
    bc.value.mightContainLong(input.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bc,
      classOf[Broadcast[_]].getName)
    defineCodeGen(ctx, ev, c =>
      s"((org.apache.spark.util.sketch.BloomFilter)$ref.value()).mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomBcMightContain =
    copy(child = newChild)
}

object BloomBcProbe {
  val identifier: FunctionIdentifier = FunctionIdentifier("graft_bloom_probe")
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[BloomBcMightContain].getName, "graft_bloom_probe")
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      "graft_bloom_probe takes (broadcast id, value)")
    val id = children.head match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"graft_bloom_probe expects a literal broadcast id, got $other")
    }
    val bc = graft.Memo.broadcast(id).getOrElse(throw new IllegalArgumentException(
      s"graft_bloom_probe: unknown broadcast id $id"))
    BloomBcMightContain(id, bc.asInstanceOf[Broadcast[BloomFilter]], children(1))
  }

  def ensureRegistered(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(identifier, info, builder)

  /** Probe column `might_contain(filter, valueCol)` over a broadcast
    * held by a [[graft.Memo]] object entry ([[graft.Memo.cachedObj]]):
    * analysis (including any later re-analysis of the same plan) finds
    * it there by id, so the handle lives exactly as long as the entry —
    * once the entry is released or evicted, the broadcast is destroyed
    * and its id no longer resolves.
    */
  def column(spark: SparkSession, bc: Broadcast[BloomFilter],
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    ensureRegistered(spark)
    org.apache.spark.sql.functions.call_function("graft_bloom_probe",
      org.apache.spark.sql.functions.lit(bc.id), value)
  }
}
